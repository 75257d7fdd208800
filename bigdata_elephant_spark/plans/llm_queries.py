"""Registry entries for the LLM-data-pipeline operators.

Every oracle below recomputes the exact arithmetic of its Spark
counterpart (same md5-derived 32-bit hashes, same universal-hash
coefficients, same left-fold float summation order), so even the
"approximate" operators (MinHash-LSH, hyperplane-LSH ANN) are
hash-match verifiable — approximation is in the algorithm, not in
the execution.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from bigdata_elephant_spark.functions.hashing import (
    MERSENNE_P,
    h32_sql_duckdb,
    minhash_coeffs,
    perm_hash_sql,
)
from bigdata_elephant_spark.operators import dedup, similarity, textstats
from bigdata_elephant_spark.registry import QuerySpec
from bigdata_elephant_spark.sources.corpus import read_table

N_HASHES = dedup.N_MINHASH
N_BANDS = dedup.N_BANDS
ROWS_PER_BAND = N_HASHES // N_BANDS
COEFFS = minhash_coeffs(N_HASHES)

KNN_QUERY_VEC_ID = 0
KNN_K = 10
JACCARD_THRESHOLD = 0.5
LSH_EST_SIM_MIN = 0.5
EMBED_DIM = 64
N_PLANES = 4
PLANES = similarity.hyperplanes(N_PLANES, EMBED_DIM)

# ------------------------------------------------- shared SQL pieces

_REPEAT4_W = " OR ".join(
    f"w LIKE '%{c * 4}%'" for c in "abcdefghijklmnopqrstuvwxyz0123456789"
)

DOC_TOKS_CTE = f"""
doc_toks AS (
    SELECT doc_id,
           list_filter(
               string_split_regex(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                   '\\s+'),
               w -> w <> ''
                    AND NOT regexp_full_match(w, '[0-9]+')
                    AND NOT ({_REPEAT4_W})) AS toks
    FROM documents
)
"""

# The document ingest gate (operators/curation.py document_validity,
# r13) as a DuckDB scan predicate — since r14 the production
# pipelines (curate_corpus, llm_pipeline_e2e) read only rows the
# quarantine lane classifies 'ok', so their oracles scan the same
# gated view. Explicit whitespace char class, not \s (Java includes
# \x0B, RE2 does not); NOT DISTINCT FROM mirrors eqNullSafe.
DOCS_OK_CTE = r"""docs_ok AS (
    SELECT * FROM documents
    WHERE text IS NOT NULL
      AND NOT regexp_matches(text, '^[ \t\n\r\f\x0B]*$')
      AND NOT contains(text, chr(65533))
      AND n_chars IS NOT DISTINCT FROM length(text)
)"""


def gate_docs_sql(sql: str) -> str:
    """Gate a composed documents-scanning oracle through the ingest
    contract: repoint every ``documents`` table reference at the
    ``docs_ok`` CTE and splice that CTE in after the leading
    ``WITH [RECURSIVE]``. String-level on the COMPOSED query, so the
    shared CTE fragments (DOC_TOKS_CTE & co.) stay byte-identical
    for the ~35 ungated queries that also compose them (the r12
    lesson: never reshape a shared fragment mid-drain)."""
    import re

    body = re.sub(r"\bdocuments\b", "docs_ok", sql)
    gated, n = re.subn(
        r"(WITH(?:\s+RECURSIVE)?)\s",
        lambda m: f"{m.group(1)} {DOCS_OK_CTE},\n",
        body,
        count=1,
    )
    assert n == 1, "gate_docs_sql: oracle has no WITH clause"
    return gated


DOC_SHINGLES_CTE = """
doc_shingles AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM doc_toks
)
"""

_H = h32_sql_duckdb("shingle")

_MIN_COLS = ",\n           ".join(
    f"min({perm_hash_sql(_H, a, b)}) AS m{i}"
    for i, (a, b) in enumerate(COEFFS)
)

MINHASH_SIGS_CTE = f"""
sigs AS (
    SELECT doc_id,
           {_MIN_COLS}
    FROM doc_shingles
    GROUP BY doc_id
)
"""

def _band_selects_sql(src: str = "sigs") -> str:
    """Band-explode UNION ALL over a signature CTE ``src``."""
    return "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, {key} AS bkey FROM {src}".format(
            b=b,
            src=src,
            key=" || ',' || ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )


_BAND_SELECTS = _band_selects_sql("sigs")

_MATCHES = " + ".join(
    f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
    for i in range(N_HASHES)
)

# ------------------------------------------------------ Spark side


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = r"""
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*)    AS n_dups
FROM documents
GROUP BY 1
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir))


MINHASH_SIGNATURES_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE}
SELECT * FROM sigs
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal all-pairs candidate list — the verifier/report
    API (pair-level est_sim for audits). Deliberately NOT the scale
    path: all-pairs mining is quadratic inside identical-signature
    mega-buckets; pipelines that only need components go through
    `dedup_lsh_edges` / lsh_candidate_edges (see dedup.py header)."""
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs)
    from pyspark.sql import functions as F

    return pairs.filter(F.col("est_sim") >= LSH_EST_SIM_MIN)


DEDUP_MINHASH_LSH_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(({_MATCHES}) / {float(N_HASHES)}, 6) AS est_sim
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
"""


def q_dedup_lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-bucket-guarded candidate miner (dedup.py
    lsh_candidate_edges) run directly: identical-signature clusters
    collapse to star edges (est_sim exactly 1.0), all-pairs mining
    runs over distinct-signature representatives only. The oracle
    replays BOTH layers literally (window-min signature grouping,
    star select, rep-only band join), pinning the edge list itself —
    the companion `dedup_groups` row pins that the edge list's
    transitive closure equals the all-pairs graph's."""
    from pyspark.sql import functions as F

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    return dedup.lsh_candidate_edges(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )


_SIG_COLS = ", ".join(f"m{i}" for i in range(N_HASHES))

DEDUP_LSH_EDGES_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
keyed AS (
    SELECT doc_id, {_SIG_COLS},
           min(doc_id) OVER (PARTITION BY {_SIG_COLS}) AS rep
    FROM sigs
),
star AS (
    SELECT rep AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS est_sim
    FROM keyed WHERE doc_id <> rep
),
reps AS (
    SELECT doc_id, {_SIG_COLS} FROM keyed WHERE doc_id = rep
),
rbands AS (
{_band_selects_sql("reps")}
),
rpairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM rbands a JOIN rbands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
rep_edges AS (
    SELECT p.doc_a, p.doc_b,
           round(({_MATCHES}) / {float(N_HASHES)}, 6) AS est_sim
    FROM rpairs p
    JOIN reps sa ON sa.doc_id = p.doc_a
    JOIN reps sb ON sb.doc_id = p.doc_b
)
SELECT * FROM star
UNION ALL
SELECT * FROM rep_edges WHERE est_sim >= {LSH_EST_SIM_MIN}
"""


def q_lsh_bucket_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Band-bucket size distribution → ``(band, sz, n_buckets)`` —
    the observability counterpart of the star-edge guard: all-pairs
    cost inside a bucket is sz²/2, so this histogram is what a
    production run reads to SEE identical-signature mega-buckets
    (a 10^6-copy cluster shows up as one sz=10^6 bucket per band)
    before they become a quadratic shuffle. One linear signature
    pass + two metadata-sized aggregations; at 100 TB this is the
    cheap pre-flight before any pair mining."""
    from pyspark.sql import functions as F

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    bands = dedup._band_explode(sigs, "doc_id", N_HASHES, N_BANDS)
    sizes = bands.groupBy("band", "bkey").agg(
        F.count("*").alias("sz")
    )
    return (
        sizes.groupBy("band", "sz")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("band", "sz")
    )


LSH_BUCKET_HISTOGRAM_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
sizes AS (
    SELECT band, bkey, count(*) AS sz FROM bands GROUP BY 1, 2
)
SELECT band, sz, count(*) AS n_buckets
FROM sizes GROUP BY 1, 2 ORDER BY 1, 2
"""


INCR_NEW_SOURCES = ("src0", "src1")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus dedup (dedup.incremental_dedup_pairs): docs
    from two sources play the incoming batch, the other 18 play the
    indexed corpus; only cross pairs are scored — the daily-ingest
    admission check that never re-reads old text."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    is_new = F.col("source").isin(*INCR_NEW_SOURCES)
    new_sigs = dedup.minhash_signatures(docs.filter(is_new))
    corpus_sigs = dedup.minhash_signatures(docs.filter(~is_new))
    pairs = dedup.incremental_dedup_pairs(new_sigs, corpus_sigs)
    return pairs.filter(F.col("est_sim") >= LSH_EST_SIM_MIN)


_INCR_NEW_IN = ", ".join(f"'{s}'" for s in INCR_NEW_SOURCES)

INCREMENTAL_DEDUP_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
tagged AS (
    SELECT s.*, (d.source IN ({_INCR_NEW_IN})) AS is_new
    FROM sigs s JOIN documents d USING (doc_id)
),
bands AS (
{_BAND_SELECTS}
),
cross_pairs AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a
    JOIN tagged ta ON ta.doc_id = a.doc_id AND ta.is_new
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
    JOIN tagged tb ON tb.doc_id = b.doc_id AND NOT tb.is_new
)
SELECT p.new_id, p.corpus_id,
       round(({_MATCHES}) / {float(N_HASHES)}, 6) AS est_sim
FROM cross_pairs p
JOIN sigs sa ON sa.doc_id = p.new_id
JOIN sigs sb ON sb.doc_id = p.corpus_id
WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
"""


def q_incremental_dedup_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta-vs-corpus admission through the mega-cluster guard
    (dedup.incremental_dedup_edges): the corpus signature table
    collapses to distinct-signature representatives (carrying
    n_members) before the band join, so an ingest row colliding with
    an identical-document cluster emits one row, not one per member.
    The oracle replays the collapse literally (window-min + count
    over the signature columns on the corpus side)."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    is_new = F.col("source").isin(*INCR_NEW_SOURCES)
    new_sigs = dedup.minhash_signatures(docs.filter(is_new))
    corpus_sigs = dedup.minhash_signatures(docs.filter(~is_new))
    edges = dedup.incremental_dedup_edges(new_sigs, corpus_sigs)
    return edges.filter(F.col("est_sim") >= LSH_EST_SIM_MIN)


INCREMENTAL_DEDUP_EDGES_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
nsigs AS (
    SELECT s.* FROM sigs s JOIN documents d USING (doc_id)
    WHERE d.source IN ({_INCR_NEW_IN})
),
ckeyed AS (
    SELECT s.doc_id, {_SIG_COLS},
           min(s.doc_id) OVER (PARTITION BY {_SIG_COLS}) AS rep,
           count(*) OVER (PARTITION BY {_SIG_COLS}) AS n_members
    FROM sigs s JOIN documents d USING (doc_id)
    WHERE d.source NOT IN ({_INCR_NEW_IN})
),
creps AS (
    SELECT doc_id, n_members, {_SIG_COLS}
    FROM ckeyed WHERE doc_id = rep
),
nbands AS (
{_band_selects_sql("nsigs")}
),
cbands AS (
{_band_selects_sql("creps")}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_rep_id
    FROM nbands a JOIN cbands b USING (band, bkey)
)
SELECT p.new_id, p.corpus_rep_id, sb.n_members,
       round(({_MATCHES}) / {float(N_HASHES)}, 6) AS est_sim
FROM pairs p
JOIN nsigs sa ON sa.doc_id = p.new_id
JOIN creps sb ON sb.doc_id = p.corpus_rep_id
WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
"""


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups over the LSH candidate graph —
    iterative min-label propagation (operators/dedup.py). The Spark
    side mines STAR-COLLAPSED edges (lsh_candidate_edges: the
    identical-signature mega-bucket guard) while the oracle
    recomputes the components from the ALL-PAIRS graph with a
    recursive CTE — the hash match is the proof that the collapse is
    component-preserving, not just the claim."""
    from pyspark.sql import functions as F

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    edges = dedup.lsh_candidate_edges(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    return dedup.duplicate_groups(edges)


def q_dedup_groups_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-audit twin of :func:`q_dedup_groups` (QuerySpec.step_fn):
    the un-checkpointed frame one production propagation round
    executes. Edge construction mirrors q_dedup_groups — keep in
    sync. Not a registry query; dumped by tools/dump_plans.py."""
    from pyspark.sql import functions as F

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    edges = dedup.lsh_candidate_edges(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    return dedup.duplicate_groups_round_frame(edges)


DEDUP_GROUPS_SQL = f"""
WITH RECURSIVE {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
good AS (
    SELECT doc_a, doc_b
    FROM cand p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
),
e AS (
    SELECT doc_a AS a, doc_b AS b FROM good
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM good
),
reach AS (
    SELECT a AS node, a AS label FROM e
    UNION
    SELECT e.b AS node, r.label FROM reach r JOIN e ON e.a = r.node
)
SELECT node AS doc_id, min(label) AS group_id FROM reach GROUP BY node
"""


PR_ITERS = 5
PR_DAMPING = 0.85


def q_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate pair graph (symmetric edges):
    rank concentration identifies template/boilerplate clusters. The
    iterative-join workload (operators/graph.py) on top of the LSH
    pair mining. Keeps the ALL-PAIRS miner by necessity — rank is
    structure-sensitive (a star is not a clique), so this inherits
    lsh_candidate_pairs' identical-signature mega-bucket exposure;
    on a skewed corpus, run it downstream of exact_dedup_map
    representatives."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.graph import pagerank

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    return pagerank(edges, iterations=PR_ITERS, damping=PR_DAMPING)


def q_pagerank_dupgraph_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plan-audit twin of :func:`q_pagerank_dupgraph`
    (QuerySpec.step_fn): the un-checkpointed frame one production
    rank update executes. Edge construction mirrors
    q_pagerank_dupgraph — keep in sync. Not a registry query; dumped
    by tools/dump_plans.py."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.graph import (
        pagerank_round_frame,
    )

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    return pagerank_round_frame(edges, damping=PR_DAMPING)


def _pagerank_iter_ctes(iters: int, damping: float) -> str:
    """Unrolled per-iteration CTEs (aggregates are not allowed in a
    recursive CTE term, so the fixed iteration count is unrolled)."""
    parts = []
    for i in range(iters):
        parts.append(f"""
pr{i + 1} AS (
    SELECT n.node,
           round((1.0 - {damping}) / (SELECT count(*) FROM nodes)
                 + {damping} * coalesce(s.inflow, 0.0), 9) AS rank
    FROM nodes n LEFT JOIN (
        SELECT w.dst AS node, sum(p.rank * w.w) AS inflow
        FROM wedges w JOIN pr{i} p ON p.node = w.src
        GROUP BY w.dst
    ) s USING (node)
)""")
    return ",".join(parts)


PAGERANK_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
good AS (
    SELECT doc_a, doc_b
    FROM cand p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
),
e AS (
    SELECT doc_a AS src, doc_b AS dst FROM good
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM good
),
nodes AS (
    SELECT src AS node FROM e UNION SELECT dst FROM e
),
wedges AS (
    SELECT src, dst,
           1.0 / (count(*) OVER (PARTITION BY src)) AS w
    FROM e
),
pr0 AS (
    SELECT node,
           round(1.0 / (SELECT count(*) FROM nodes), 9) AS rank
    FROM nodes
),
{_pagerank_iter_ctes(PR_ITERS, PR_DAMPING)}
SELECT node, round(rank, 6) AS rank FROM pr{PR_ITERS}
"""


def q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank WITH dangling-mass redistribution over a directed
    graph that actually has dangling nodes: the part-successor graph
    (within each order, consecutive parts in ``l_partkey`` order form
    a directed edge; the last part of an order has no out-edge unless
    it leads elsewhere). Exercises ``pagerank(handle_dangling=True)``
    — closing the mass-leak caveat documented in operators/graph.py —
    against a recursive-free unrolled DuckDB oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    edges = (
        li.select(
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    return pagerank(
        edges,
        iterations=PR_ITERS,
        damping=PR_DAMPING,
        handle_dangling=True,
    ).orderBy("node")


def _pagerank_dangling_iter_ctes(iters: int, damping: float) -> str:
    """Unrolled iterations with per-round dangling-mass CTEs: dm_i is
    the decimal sum of dangling nodes' ranks (exact — mirrors the
    Spark side's decimal-sum discipline), redistributed uniformly
    inside the damped term."""
    parts = []
    for i in range(iters):
        parts.append(f"""
dm{i} AS (
    SELECT coalesce(sum(CAST(p.rank AS DECIMAL(20,9))),
                    CAST(0 AS DECIMAL(20,9))) AS dm
    FROM pr{i} p JOIN dang USING (node)
),
pr{i + 1} AS (
    SELECT n.node,
           round((1.0 - {damping}) / (SELECT count(*) FROM nodes)
                 + {damping} * (coalesce(s.inflow, 0.0)
                     + CAST(d.dm AS DOUBLE)
                       / (SELECT count(*) FROM nodes)), 9) AS rank
    FROM nodes n CROSS JOIN dm{i} d LEFT JOIN (
        SELECT w.dst AS node, sum(p.rank * w.w) AS inflow
        FROM wedges w JOIN pr{i} p ON p.node = w.src
        GROUP BY w.dst
    ) s USING (node)
)""")
    return ",".join(parts)


PAGERANK_DANGLING_SQL = f"""
WITH succ AS (
    SELECT l_partkey AS src,
           lead(l_partkey) OVER (PARTITION BY l_orderkey
                                 ORDER BY l_partkey) AS dst
    FROM lineitem
),
e AS (SELECT src, dst FROM succ WHERE dst IS NOT NULL),
nodes AS (
    SELECT src AS node FROM e UNION SELECT dst FROM e
),
dang AS (
    SELECT node FROM nodes
    WHERE node NOT IN (SELECT src FROM e)
),
wedges AS (
    SELECT src, dst,
           1.0 / (count(*) OVER (PARTITION BY src)) AS w
    FROM e
),
pr0 AS (
    SELECT node,
           round(1.0 / (SELECT count(*) FROM nodes), 9) AS rank
    FROM nodes
),
{_pagerank_dangling_iter_ctes(PR_ITERS, PR_DAMPING)}
SELECT node, round(rank, 6) AS rank FROM pr{PR_ITERS}
ORDER BY node
"""


def q_dupgraph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the near-duplicate pair graph: a node in
    many triangles sits in a densely inter-similar cluster (template
    boilerplate), vs. a chain of pairwise-similar revisions — the
    signal that distinguishes 'delete all but one' from 'keep the
    chain'. Compact-forward two-join algorithm (operators/graph.py).
    Keeps the ALL-PAIRS miner by necessity — triangle structure is
    pair-sensitive (a star has zero triangles, a clique has them
    all), so this inherits lsh_candidate_pairs' identical-signature
    mega-bucket exposure; on a skewed corpus, run it downstream of
    exact_dedup_map representatives (pinned in
    tests/test_skewed_corpus.py)."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.graph import triangle_counts

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    return triangle_counts(pairs.select("doc_a", "doc_b"))


DUPGRAPH_TRIANGLES_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
good AS (
    SELECT doc_a, doc_b
    FROM cand p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    WHERE round(({_MATCHES}) / {float(N_HASHES)}, 6) >= {LSH_EST_SIM_MIN}
),
tri AS (
    SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
    FROM good e1
    JOIN good e2 ON e1.doc_b = e2.doc_a
    WHERE EXISTS (SELECT 1 FROM good e3
                  WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
),
corners AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY 1 ORDER BY 1
"""


def q_dupgraph_triangles_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree-ordered compact-forward triangle counts — the
    wedge-minimizing production variant (nodes ranked by
    ``(degree, id)``, edges re-oriented toward the higher rank
    before the wedge join; see operators/graph.py). Per-node counts
    are identical to the id-ordered form for any total order, so it
    shares the oracle with ``dupgraph_triangles`` — the driver row
    doubles as the cross-order equivalence proof. Same ALL-PAIRS
    necessity and mega-bucket exposure as ``dupgraph_triangles``;
    same mitigation: exact_dedup_map representatives upstream on
    skewed corpora (tests/test_skewed_corpus.py)."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators.graph import triangle_counts

    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs).filter(
        F.col("est_sim") >= LSH_EST_SIM_MIN
    )
    return triangle_counts(
        pairs.select("doc_a", "doc_b"), degree_ordered=True
    )


# --------------------------- dedup trust gates (round 9)
#
# The dedup-family analogue of the ANN recall reports: every ranked
# retriever in this repo ships with a measured trust gate
# (ivf/pq/sq8 recall reports, the probe sweep); these two give the
# MinHash-LSH dedup pipeline the same treatment — estimate error vs
# exact Jaccard on the surfaced pairs, and candidate recall vs exact
# ground truth across thresholds.


def q_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimate-vs-exact error report
    (operators/dedup.py minhash_estimate_error): per exact-Jaccard
    decile, how far the 16-hash estimate sits from the true
    distinct-shingle Jaccard over the LSH candidate pairs."""
    return dedup.minhash_estimate_error(_docs(spark, sf_dir))


MINHASH_EST_ERROR_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
est AS (
    SELECT p.doc_a, p.doc_b,
           round(({_MATCHES}) / {float(N_HASHES)}, 6) AS est_sim
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
),
shd AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
i0 AS (
    SELECT p.doc_a, p.doc_b, count(*) AS c
    FROM pairs p
    JOIN shd x ON x.doc_id = p.doc_a
    JOIN shd y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
    GROUP BY 1, 2
),
ov AS (
    SELECT p.doc_a, p.doc_b,
           CAST(coalesce(i0.c, 0) AS BIGINT) AS inter,
           za.n_sh + zb.n_sh - CAST(coalesce(i0.c, 0) AS BIGINT)
               AS union_sh
    FROM pairs p
    LEFT JOIN i0 USING (doc_a, doc_b)
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
),
scored AS (
    SELECT least(9, CAST(floor(o.inter * 10 / o.union_sh) AS INT))
               AS jac_bucket,
           CAST(round(abs(e.est_sim
                          - round(o.inter / o.union_sh, 6)), 6)
                AS DECIMAL(12,6)) AS err
    FROM est e JOIN ov o USING (doc_a, doc_b)
)
SELECT jac_bucket,
       count(*) AS n_pairs,
       round(CAST(sum(err) AS DOUBLE), 6) AS sum_abs_err,
       round(CAST(max(err) AS DOUBLE), 6) AS max_abs_err
FROM scored
GROUP BY 1
ORDER BY jac_bucket
"""


LSH_RECALL_THR_MIN = 5
LSH_RECALL_THR_MAX = 9


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate recall vs exact-Jaccard ground truth per
    threshold level (operators/dedup.py lsh_recall_sweep): pins the
    4x4-band S-curve on this corpus instead of trusting the
    (1/b)^(1/r) formula."""
    return dedup.lsh_recall_sweep(
        _docs(spark, sf_dir),
        thr_x10_min=LSH_RECALL_THR_MIN,
        thr_x10_max=LSH_RECALL_THR_MAX,
    )


DEDUP_LSH_RECALL_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE}, {MINHASH_SIGS_CTE},
bands AS (
{_BAND_SELECTS}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band, bkey)
    WHERE a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
i0 AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
    FROM shd x JOIN shd y
      ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
ov AS (
    SELECT i.doc_a, i.doc_b, i.inter,
           za.n_sh + zb.n_sh - i.inter AS union_sh
    FROM i0 i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
),
flag AS (
    SELECT o.*,
           CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
    FROM ov o LEFT JOIN pairs p USING (doc_a, doc_b)
),
levels AS (
    SELECT unnest(range({LSH_RECALL_THR_MIN},
                        {LSH_RECALL_THR_MAX} + 1)) AS t
),
agg AS (
    SELECT t, count(*) AS n_true,
           CAST(sum(caught) AS BIGINT) AS n_caught
    FROM flag, levels
    WHERE inter * 10 >= t * union_sh
    GROUP BY 1
)
SELECT CAST(l.t AS INT) AS thr_x10,
       CAST(coalesce(a.n_true, 0) AS BIGINT) AS n_true,
       CAST(coalesce(a.n_caught, 0) AS BIGINT) AS n_caught,
       CASE WHEN coalesce(a.n_true, 0) > 0
            THEN round(a.n_caught / a.n_true, 6)
       END AS recall
FROM levels l LEFT JOIN agg a ON a.t = l.t
ORDER BY thr_x10
"""


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir))


_SIM_BITS = dedup.SIMHASH_BITS
_HW = h32_sql_duckdb("word")
_BIT_SUMS = ",\n           ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(_SIM_BITS)
)
_SIG_SUM = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(_SIM_BITS)
)

SIMHASH_SIGNATURES_SQL = f"""
WITH {DOC_TOKS_CTE},
tok_rows AS (SELECT doc_id, unnest(toks) AS word FROM doc_toks),
hashed AS (SELECT doc_id, {_HW} AS h FROM tok_rows),
sums AS (
    SELECT doc_id,
           {_BIT_SUMS}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIG_SUM} AS BIGINT) AS simhash FROM sums
"""


SIMHASH_MAX_HAMMING = 6


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.simhash_signatures(_docs(spark, sf_dir))
    return dedup.simhash_pairs(sigs, max_hamming=SIMHASH_MAX_HAMMING)


_SH_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, simhash, {b} AS band, "
    f"(simhash >> {b * 8}) & 255 AS bkey FROM sh_sigs"
    for b in range(4)
)

SIMHASH_PAIRS_SQL = f"""
WITH {DOC_TOKS_CTE},
tok_rows AS (SELECT doc_id, unnest(toks) AS word FROM doc_toks),
hashed AS (SELECT doc_id, {_HW} AS h FROM tok_rows),
sums AS (
    SELECT doc_id,
           {_BIT_SUMS}
    FROM hashed GROUP BY doc_id
),
sh_sigs AS (SELECT doc_id, CAST({_SIG_SUM} AS BIGINT) AS simhash FROM sums),
bands AS (
{_SH_BANDS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b USING (band, bkey)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD
    )


NGRAM_JACCARD_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE},
dsh AS (SELECT DISTINCT doc_id, shingle FROM doc_shingles),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {JACCARD_THRESHOLD}
"""


PASSAGE_SHINGLE_N = 4
PASSAGE_MIN_RUN = 8
PASSAGE_MAX_DF = 50


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr passage dedup (dedup.duplicate_passages): longest
    verbatim shared token run per document pair, via positional
    shingle join + diagonal gaps-and-islands — the relational form of
    Lee et al. 2022's suffix-array dedup."""
    return dedup.duplicate_passages(
        _docs(spark, sf_dir),
        shingle_n=PASSAGE_SHINGLE_N,
        min_run=PASSAGE_MIN_RUN,
        max_doc_freq=PASSAGE_MAX_DF,
    )


DUPLICATE_PASSAGES_SQL = f"""
WITH {DOC_TOKS_CTE},
pos_sh AS (
    SELECT doc_id,
           u - 1 AS pos,
           toks[u] || ' ' || toks[u+1] || ' ' || toks[u+2]
                   || ' ' || toks[u+3] AS shingle
    FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks)
                            - {PASSAGE_SHINGLE_N - 1}, 0) + 1)) AS u
        FROM doc_toks
    )
),
rare AS (
    SELECT shingle FROM (
        SELECT shingle, count(DISTINCT doc_id) AS df
        FROM pos_sh GROUP BY shingle
    ) WHERE df <= {PASSAGE_MAX_DF}
),
m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, a.pos - b.pos AS diag
    FROM pos_sh a
    JOIN rare r ON r.shingle = a.shingle
    JOIN pos_sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b,
           count(*) + {PASSAGE_SHINGLE_N - 1} AS run_tokens
    FROM (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag
                   ORDER BY pos_a) AS grp
        FROM m
    )
    GROUP BY doc_a, doc_b, diag, grp
    HAVING count(*) + {PASSAGE_SHINGLE_N - 1} >= {PASSAGE_MIN_RUN}
)
SELECT doc_a, doc_b,
       CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
       count(*) AS n_runs
FROM runs
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------- similarity

def _dot_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


# norm>0 exclusion mirroring the engine-wide zero-norm cosine filter
# contract (similarity._exact_rerank): every oracle that divides by a
# vector norm carries the identical predicate on both divisor sides,
# so a degenerate (dead-doc / encoder-failure) embedding is dropped,
# not divided by, in BOTH engines.
_NRM_E = f"{_dot_sql('e.embedding', 'e.embedding')} > 0"
_NRM_Q = f"{_dot_sql('q.qv', 'q.qv')} > 0"
_NRM_A = f"{_dot_sql('a.embedding', 'a.embedding')} > 0"
_NRM_B = f"{_dot_sql('b.embedding', 'b.embedding')} > 0"


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, KNN_QUERY_VEC_ID, k=KNN_K)


KNN_COSINE_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {KNN_QUERY_VEC_ID})
SELECT vec_id, cos_sim FROM (
    SELECT e.vec_id,
           round({_dot_sql('e.embedding', 'q.qv')}
                 / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> {KNN_QUERY_VEC_ID}
      AND {_NRM_E} AND {_NRM_Q}
)
ORDER BY cos_sim DESC, vec_id
LIMIT {KNN_K}
"""


EMB_DIM = 64  # every sf tier ships 64-d vectors (TESTDATA.md)


def q_embeddings_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-gate audit for the finite-floats contract (similarity.py
    embedding_validity): every cosine operator assumes finite,
    nonzero, right-sized vectors, and the engine-wide norm>0 filter
    cannot catch NaN (NaN > 0 is TRUE under Spark's NaN-greatest
    ordering — a NaN embedding silently poisons ranks instead of
    dropping). The test corpus is all-finite by construction, so the
    query plants every broken class deterministically (keyed on
    vec_id residues, first match wins) and reports the per-class
    quarantine counts — the driver gate then proves BOTH engines
    classify identically, including the planted NaN/±Inf rows. Pure
    column expressions; at 100 TB this is the zero-shuffle dead-
    letter split the pipeline runs at ingest."""
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    nan = F.lit(float("nan")).cast("float")
    pinf = F.lit(float("inf")).cast("float")
    ninf = F.lit(float("-inf")).cast("float")
    vid = F.col("vec_id")
    corrupt = (
        F.when(vid % 97 == 0, F.transform(
            vec, lambda x, i: F.when(i == 0, nan).otherwise(x)))
        .when(vid % 101 == 1, F.transform(
            vec, lambda x, i: F.when(i == 1, pinf).otherwise(x)))
        .when(vid % 103 == 2, F.transform(
            vec, lambda x, i: F.when(i == 2, ninf).otherwise(x)))
        .when(vid % 89 == 3, F.transform(
            vec, lambda x: F.lit(0.0).cast("float")))
        .when(vid % 113 == 5, F.slice(vec, 1, 3))
        .when(vid % 127 == 7, F.lit(None).cast("array<float>"))
        .otherwise(vec)
    )
    injected = emb.select("vec_id", corrupt.alias("embedding"))
    classified = similarity.embedding_validity(
        injected, expected_dim=EMB_DIM
    )
    return (
        classified.groupBy("validity")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
        .orderBy("validity")
    )


EMBEDDINGS_QUARANTINE_SQL = f"""
WITH injected AS (
    SELECT vec_id,
        CASE
            WHEN vec_id % 97 = 0 THEN list_transform(embedding,
                (x, i) -> CASE WHEN i = 1 THEN 'NaN'::FLOAT ELSE x END)
            WHEN vec_id % 101 = 1 THEN list_transform(embedding,
                (x, i) -> CASE WHEN i = 2 THEN 'Infinity'::FLOAT
                               ELSE x END)
            WHEN vec_id % 103 = 2 THEN list_transform(embedding,
                (x, i) -> CASE WHEN i = 3 THEN '-Infinity'::FLOAT
                               ELSE x END)
            WHEN vec_id % 89 = 3 THEN list_transform(embedding,
                x -> 0.0::FLOAT)
            WHEN vec_id % 113 = 5 THEN embedding[1:3]
            WHEN vec_id % 127 = 7 THEN NULL
            ELSE embedding
        END AS embedding
    FROM embeddings
),
classified AS (
    SELECT vec_id,
        CASE
            WHEN embedding IS NULL THEN 'null'
            WHEN len(embedding) <> {EMB_DIM} THEN 'wrong_dim'
            WHEN len(list_filter(embedding,
                x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
                THEN 'nonfinite'
            WHEN len(list_filter(embedding, x -> x <> 0)) = 0
                THEN 'zero'
            ELSE 'ok'
        END AS validity
    FROM injected
)
SELECT validity, count(*) AS n_vecs,
       min(vec_id) AS min_id, max(vec_id) AS max_id
FROM classified
GROUP BY validity
ORDER BY validity
"""


KPP_K = 4


def q_kmeanspp_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic farthest-point seeding (similarity.py
    kmeanspp_seeds): 4 seed vectors, each maximizing distance to the
    nearest prior seed, ties to the lowest id. The oracle unrolls
    the same greedy rounds."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.kmeanspp_seeds(emb, KPP_K).orderBy("seed_rank")


def _l2_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def _kpp_oracle(k: int) -> str:
    ctes = [
        "s0 AS (SELECT vec_id, embedding AS v FROM embeddings "
        "ORDER BY vec_id LIMIT 1)",
        f"d1 AS (SELECT e.vec_id, round({_l2_sql('e.embedding', 's0.v')}, 6)"
        " AS d FROM embeddings e, s0 "
        "WHERE e.vec_id NOT IN (SELECT vec_id FROM s0))",
    ]
    chosen = ["SELECT vec_id FROM s0"]
    for r in range(1, k):
        pick = (
            f"p{r} AS (SELECT vec_id FROM d{r} "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
        seed = (
            f"s{r} AS (SELECT e.vec_id, e.embedding AS v "
            f"FROM embeddings e JOIN p{r} USING (vec_id))"
        )
        ctes += [pick, seed]
        chosen.append(f"SELECT vec_id FROM s{r}")
        if r < k - 1:
            ctes.append(
                f"d{r + 1} AS (SELECT d{r}.vec_id, "
                f"least(d{r}.d, round("
                f"{_l2_sql('e.embedding', f's{r}.v')}, 6)) AS d "
                f"FROM d{r} JOIN embeddings e USING (vec_id), s{r} "
                f"WHERE d{r}.vec_id NOT IN (SELECT vec_id FROM s{r}))"
            )
    seq = ", ".join(
        f"({i}, ({q}))" for i, q in enumerate(chosen)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(r AS BIGINT) AS seed_rank, "
        f"CAST(vid AS BIGINT) AS vec_id "
        f"FROM (VALUES {seq}) t(r, vid) ORDER BY seed_rank"
    )


PQ_SUB, PQ_SUB_DIM, PQ_CODES, PQ_SHORTLIST = 4, 16, 16, 50


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: codebooks (lowest-id slices) ->
    4-code compression of every vector -> per-query LUT (ADC) ->
    decimal-exact approximate scores -> top-50 shortlist -> exact
    cosine re-rank -> top-10. The oracle replays codebook build,
    encoding (rounded distances, ties to lowest code), the decimal
    ADC sum, the shortlist cut, and the re-rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, KNN_QUERY_VEC_ID, n_sub=PQ_SUB, sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CODES, shortlist=PQ_SHORTLIST, k=KNN_K,
    )


def _sub_fold_sql(expr: str, lo: str, hi: str) -> str:
    """Left fold of ``expr`` (a function of index i) over [lo, hi)."""
    return (
        f"list_reduce(list_transform(range({lo}, {hi}), i -> {expr}), "
        f"(x, y) -> x + y)"
    )


_PQ_L2 = _sub_fold_sql(
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))",
    f"c.sub * {PQ_SUB_DIM} + 1",
    f"c.sub * {PQ_SUB_DIM} + {PQ_SUB_DIM} + 1",
)

_PQ_QDOT = _sub_fold_sql(
    "CAST(c.cvec[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)",
    f"c.sub * {PQ_SUB_DIM} + 1",
    f"c.sub * {PQ_SUB_DIM} + {PQ_SUB_DIM} + 1",
)

KNN_PQ_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {KNN_QUERY_VEC_ID}),
cb_src AS (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY vec_id LIMIT {PQ_CODES}
),
codebooks AS (
    SELECT s.sub, e.vec_id AS code_id, e.embedding AS cvec
    FROM cb_src e,
         (SELECT unnest(range(0, {PQ_SUB})) AS sub) s
),
enc AS (
    SELECT vec_id, sub, code FROM (
        SELECT e.vec_id, c.sub, c.code_id AS code,
               row_number() OVER (
                   PARTITION BY e.vec_id, c.sub
                   ORDER BY round({_PQ_L2}, 6), c.code_id) AS rn
        FROM embeddings e, codebooks c
    ) WHERE rn = 1
),
lut AS (
    SELECT c.sub, c.code_id,
           CAST(round({_PQ_QDOT}, 6) AS DECIMAL(18,6)) AS pd
    FROM codebooks c, q
),
short AS (
    SELECT enc.vec_id
    FROM enc JOIN lut ON lut.sub = enc.sub AND lut.code_id = enc.code
    WHERE enc.vec_id <> {KNN_QUERY_VEC_ID}
    GROUP BY enc.vec_id
    ORDER BY sum(pd) DESC, enc.vec_id
    LIMIT {PQ_SHORTLIST}
)
SELECT e.vec_id,
       round({_dot_sql('e.embedding', 'q.qv')}
             / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
FROM embeddings e JOIN short USING (vec_id), q
WHERE {_NRM_E} AND {_NRM_Q}
ORDER BY cos_sim DESC, e.vec_id
LIMIT {KNN_K}
"""


# --------------------------------------------- SQ8 scalar quantizer


def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-SQ8-shaped ANN (similarity.py::sq8_topk): per-dimension
    min/max train (one scan, metadata-sized result), 8-bit encode,
    asymmetric scan — the exact float query against every decoded
    reconstruction. The oracle replays train/encode/decode/score
    with the identical floor(x+0.5) code rounding and fold order."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(emb, KNN_QUERY_VEC_ID, k=KNN_K)


def q_sq8_reconstruction_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label quantization-error audit for the SQ8 codes — the
    post-build trust gate (ann_recall_report's role for the LSH
    index): exact-decimal-summed avg and max squared reconstruction
    error per label."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.sq8_reconstruction_report(emb)


_SQ8_STATS_CTE = f"""st AS (
    SELECT list(mn ORDER BY d) AS vmin, list(sp ORDER BY d) AS vstep
    FROM (
        SELECT i AS d,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               (max(CAST(embedding[i] AS DOUBLE))
                - min(CAST(embedding[i] AS DOUBLE))) / 255.0 AS sp
        FROM embeddings, range(1, {EMBED_DIM + 1}) t(i)
        GROUP BY i
    )
),
codes AS (
    SELECT vec_id,
           list_transform(range(1, {EMBED_DIM + 1}), i -> CASE
               WHEN st.vstep[i] = 0.0 THEN 0
               ELSE CAST(least(greatest(
                        floor((CAST(embedding[i] AS DOUBLE)
                               - st.vmin[i]) / st.vstep[i] + 0.5),
                        0), 255) AS INTEGER) END) AS codes
    FROM embeddings, st
),
recon AS (
    SELECT vec_id,
           list_transform(range(1, {EMBED_DIM + 1}),
               i -> st.vmin[i]
                    + CAST(codes[i] AS DOUBLE) * st.vstep[i]) AS rv
    FROM codes, st
)"""

_SQ8_NORM_PRED = f"{_dot_sql('r.rv', 'r.rv')} > 0"

KNN_SQ8_SQL = f"""
WITH {_SQ8_STATS_CTE},
q AS (SELECT embedding AS qv FROM embeddings
      WHERE vec_id = {KNN_QUERY_VEC_ID})
SELECT vec_id, sq8_sim FROM (
    SELECT r.vec_id,
           round({_dot_sql('r.rv', 'q.qv')}
                 / (sqrt({_dot_sql('r.rv', 'r.rv')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS sq8_sim
    FROM recon r, q
    -- zero-norm reconstructions dropped, mirroring the Spark-side
    -- ANSI divide-by-zero guard (_sq8_score_tail)
    WHERE {_SQ8_NORM_PRED} AND {_NRM_Q}
      AND r.vec_id <> {KNN_QUERY_VEC_ID}
)
ORDER BY sq8_sim DESC, vec_id
LIMIT {KNN_K}
"""

# the shared L2 fold template (the CAST on the already-DOUBLE rv
# is a no-op, so the arithmetic is unchanged)
_SQ8_ERR2 = _l2_sql('e.embedding', 'r.rv')

SQ8_REPORT_SQL = f"""
WITH {_SQ8_STATS_CTE},
err AS (
    SELECT e.label, round({_SQ8_ERR2}, 6) AS err2
    FROM embeddings e JOIN recon r USING (vec_id)
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(err2 AS DECIMAL(38,6))) AS DOUBLE)
             / count(*), 6) AS avg_err2,
       max(err2) AS max_err2
FROM err GROUP BY label ORDER BY label
"""


def _plane_sql(p: list[float]) -> str:
    return "([" + ", ".join(repr(v) for v in p) + "]::DOUBLE[])"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {_dot_sql('embedding', _plane_sql(p))} > 0 "
    f"THEN {2**j} ELSE 0 END)"
    for j, p in enumerate(PLANES)
)


def q_knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, KNN_QUERY_VEC_ID, PLANES, k=KNN_K
    )


KNN_COSINE_LSH_SQL = f"""
WITH wb AS (
    SELECT vec_id, embedding,
           CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM wb
      WHERE vec_id = {KNN_QUERY_VEC_ID})
SELECT vec_id, cos_sim FROM (
    SELECT e.vec_id,
           round({_dot_sql('e.embedding', 'q.qv')}
                 / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
    FROM wb e, q
    WHERE e.bucket = q.qbucket AND e.vec_id <> {KNN_QUERY_VEC_ID}
      AND {_NRM_E} AND {_NRM_Q}
)
ORDER BY cos_sim DESC, vec_id
LIMIT {KNN_K}
"""


def q_knn_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (probe_hamming=1): the recall knob —
    also scans the n_planes buckets one sign-flip away from the
    query's, each of which is one more pruned partition at scale."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, KNN_QUERY_VEC_ID, PLANES, k=KNN_K, probe_hamming=1
    )


KNN_COSINE_LSH_MULTIPROBE_SQL = f"""
WITH wb AS (
    SELECT vec_id, embedding,
           CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM wb
      WHERE vec_id = {KNN_QUERY_VEC_ID})
SELECT vec_id, cos_sim FROM (
    SELECT e.vec_id,
           round({_dot_sql('e.embedding', 'q.qv')}
                 / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
    FROM wb e, q
    WHERE bit_count(xor(e.bucket, q.qbucket)) <= 1
      AND e.vec_id <> {KNN_QUERY_VEC_ID}
      AND {_NRM_E} AND {_NRM_Q}
)
ORDER BY cos_sim DESC, vec_id
LIMIT {KNN_K}
"""


NEAR_DUP_THRESHOLD = 0.4
IVF_CELLS = 16
IVF_PROBE = 4


def _l2_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


_COS_AB = (
    f"round({_dot_sql('a.embedding', 'b.embedding')} "
    f"/ (sqrt({_dot_sql('a.embedding', 'a.embedding')}) "
    f"* sqrt({_dot_sql('b.embedding', 'b.embedding')})), 6)"
)


def q_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs(emb, NEAR_DUP_THRESHOLD)


NEAR_DUP_EXACT_SQL = f"""
SELECT id_a, id_b, cos_sim FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND {_NRM_A} AND {_NRM_B}
)
WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
"""


def q_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs(emb, NEAR_DUP_THRESHOLD, planes=PLANES)


NEAR_DUP_LSH_SQL = f"""
WITH wb AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM embeddings
)
SELECT id_a, id_b, cos_sim FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cos_sim
    FROM wb a JOIN wb b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         AND {_NRM_A} AND {_NRM_B}
)
WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
"""


def q_near_dup_edges_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hyperplane-LSH near-dup mining with the identical-vector
    mega-cluster guard (similarity.near_dup_edges): bit-identical
    embeddings collapse to star edges before the bucket self-join —
    the third and last bucketed pair miner to get the star
    treatment (text LSH bands, k-means cells, hyperplane buckets).
    Oracle replays the collapse + rep-only bucket join."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_edges(
        emb, NEAR_DUP_THRESHOLD, planes=PLANES
    )


def _near_dup_edges_sql() -> str:
    nz = _dot_sql("embeddings.embedding", "embeddings.embedding")
    return f"""
WITH keyed AS (
    SELECT vec_id, embedding,
           min(vec_id) OVER (PARTITION BY embedding) AS rep
    FROM embeddings
    WHERE {nz} > 0
),
reps AS (
    SELECT vec_id, embedding FROM keyed WHERE vec_id = rep
    UNION ALL
    SELECT vec_id, embedding FROM embeddings WHERE NOT ({nz} > 0)
),
star AS (
    SELECT rep AS id_a, vec_id AS id_b, CAST(1.0 AS DOUBLE) AS cos_sim
    FROM keyed WHERE vec_id <> rep
),
wb AS (
    SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM reps
),
rep_pairs AS (
    SELECT id_a, id_b, cos_sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_AB} AS cos_sim
        FROM wb a JOIN wb b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             AND {_NRM_A} AND {_NRM_B}
    )
    WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
)
SELECT * FROM star
UNION ALL
SELECT * FROM rep_pairs
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cell-bucketed semantic near-dup pairs
    (similarity.semantic_dedup_pairs): quadratic work confined to
    k-means cells instead of LSH buckets."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_pairs(
        emb, NEAR_DUP_THRESHOLD, n_cells=IVF_CELLS
    )


SEMANTIC_DEDUP_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
),
wb AS (
    SELECT e.vec_id, e.embedding, s.cell_id
    FROM embeddings e JOIN assigned s USING (vec_id)
)
SELECT cell_id, id_a, id_b, cos_sim FROM (
    SELECT a.cell_id, a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS_AB} AS cos_sim
    FROM wb a JOIN wb b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         AND {_NRM_A} AND {_NRM_B}
)
WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
"""


def q_semantic_dedup_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup with the identical-vector mega-cluster guard
    (similarity.semantic_dedup_edges): bit-identical embeddings —
    what exact-dup documents produce — collapse to star edges before
    the within-cell pair scoring, the embedding-space twin of
    dedup_lsh_edges. The oracle replays both layers (window-min over
    the raw vector, rep-only cell pairing against full-table
    centroids)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_edges(
        emb, NEAR_DUP_THRESHOLD, n_cells=IVF_CELLS
    )


SEMANTIC_DEDUP_EDGES_SQL = f"""
WITH keyed AS (
    -- zero-norm vectors stay OUT of the identical-vector collapse
    -- (cosine undefined; mirrors the Spark side's _norm2 > 0)
    SELECT vec_id, embedding,
           min(vec_id) OVER (PARTITION BY embedding) AS rep
    FROM embeddings
    WHERE {_dot_sql('embeddings.embedding', 'embeddings.embedding')} > 0
),
reps AS (
    SELECT k.vec_id, k.embedding FROM keyed k WHERE k.vec_id = k.rep
    UNION ALL
    SELECT vec_id, embedding FROM embeddings
    WHERE NOT ({_dot_sql('embeddings.embedding', 'embeddings.embedding')} > 0)
),
cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT r.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY r.vec_id
                   ORDER BY round({_l2_sql('r.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM reps r, cents c
    ) WHERE rn = 1
),
star AS (
    SELECT s.cell_id, k.rep AS id_a, k.vec_id AS id_b,
           CAST(1.0 AS DOUBLE) AS cos_sim
    FROM keyed k JOIN assigned s ON s.vec_id = k.rep
    WHERE k.vec_id <> k.rep
),
wb AS (
    SELECT r.vec_id, r.embedding, s.cell_id
    FROM reps r JOIN assigned s USING (vec_id)
),
rep_pairs AS (
    SELECT cell_id, id_a, id_b, cos_sim FROM (
        SELECT a.cell_id, a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS_AB} AS cos_sim
        FROM wb a JOIN wb b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
             AND {_NRM_A} AND {_NRM_B}
    )
    WHERE cos_sim >= {NEAR_DUP_THRESHOLD}
)
SELECT * FROM star
UNION ALL
SELECT * FROM rep_pairs
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, KNN_QUERY_VEC_ID, n_cells=IVF_CELLS, n_probe=IVF_PROBE, k=KNN_K
    )


KNN_IVF_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
q AS (SELECT embedding AS qv FROM embeddings
      WHERE vec_id = {KNN_QUERY_VEC_ID}),
probe AS (
    SELECT cell_id FROM (
        SELECT c.cell_id, round({_l2_sql('c.cvec', 'q.qv')}, 6) AS d
        FROM cents c, q
        ORDER BY d, cell_id LIMIT {IVF_PROBE}
    )
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
)
SELECT vec_id, cos_sim FROM (
    SELECT e.vec_id,
           round({_dot_sql('e.embedding', 'q.qv')}
                 / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
    FROM embeddings e
    JOIN assigned s ON s.vec_id = e.vec_id
    JOIN probe p ON p.cell_id = s.cell_id
    CROSS JOIN q
    WHERE e.vec_id <> {KNN_QUERY_VEC_ID}
      AND {_NRM_E} AND {_NRM_Q}
)
ORDER BY cos_sim DESC, vec_id
LIMIT {KNN_K}
"""


def q_knn_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF{n},SQ8 factory composition (similarity.py::
    ivf_sq8_topk): coarse cell pruning + the SQ8 asymmetric scan
    over probed candidates only; both quantizers train on the full
    table. Oracle = knn_ivf's probe/assignment CTEs feeding
    knn_sq8's decode/score tail."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_sq8_topk(
        emb, KNN_QUERY_VEC_ID, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        k=KNN_K,
    )


KNN_IVF_SQ8_SQL = f"""
WITH {_SQ8_STATS_CTE},
cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
q AS (SELECT embedding AS qv FROM embeddings
      WHERE vec_id = {KNN_QUERY_VEC_ID}),
probe AS (
    SELECT cell_id FROM (
        SELECT c.cell_id, round({_l2_sql('c.cvec', 'q.qv')}, 6) AS d
        FROM cents c, q
        ORDER BY d, cell_id LIMIT {IVF_PROBE}
    )
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
)
SELECT vec_id, sq8_sim FROM (
    SELECT r.vec_id,
           round({_dot_sql('r.rv', 'q.qv')}
                 / (sqrt({_dot_sql('r.rv', 'r.rv')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS sq8_sim
    FROM recon r
    JOIN assigned s ON s.vec_id = r.vec_id
    JOIN probe p ON p.cell_id = s.cell_id
    CROSS JOIN q
    WHERE {_SQ8_NORM_PRED} AND {_NRM_Q}
      AND r.vec_id <> {KNN_QUERY_VEC_ID}
)
ORDER BY sq8_sim DESC, vec_id
LIMIT {KNN_K}
"""



_IVFSQ8_INDEX_CACHE: dict[tuple, str] = {}


def ivfsq8_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Per-process materialized IVF,SQ8 index for ``sf_dir``'s
    embeddings (same lifecycle as :func:`ivf_index_path`)."""
    import atexit
    import shutil
    import tempfile

    key = _ann_cache_key(sf_dir)
    path = _IVFSQ8_INDEX_CACHE.get(key)
    if path is None:
        emb = read_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="elephant_ivfsq8_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivfsq8_index(emb, path, n_cells=IVF_CELLS)
        _IVFSQ8_INDEX_CACHE[key] = path
    return path


def q_ivfsq8_topk_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF,SQ8 over the *materialized* layout (similarity.py
    ``build_ivfsq8_index``): codes persisted partitioned by cell_id
    (4x smaller than the vectors), probe = static partition pruning,
    per-dim range stats read as index metadata. Semantics identical
    to the inline ``knn_ivf_sq8`` — hence the shared oracle: a stale
    stats frame, wrong cell routing, or a lost code row
    hash-mismatches."""
    emb = read_table(spark, sf_dir, "embeddings")
    path = ivfsq8_index_path(spark, sf_dir)
    return similarity.ivfsq8_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, source=emb, n_probe=IVF_PROBE,
        k=KNN_K,
    )


def q_ivf_cell_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF index-balance report: vectors per cell plus each cell's
    share — the observability table behind every "why is my ANN
    slow" investigation (one hot cell = one hot probe partition;
    FAISS's `invlists` imbalance factor). One assignment pass, one
    n_cells-row aggregate; share compares by integer cross-product
    against the 1-row total inside the oracle too."""
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, IVF_CELLS)
    assigned = similarity.ivf_assign(emb, cents)
    tot = assigned.agg(F.count("*").cast("long").alias("nt"))
    return (
        assigned.groupBy("cell_id")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cell_id").cast("long").alias("cell_id"),
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("nt"), 6
            ).alias("share"),
        )
        .orderBy("cell_id")
    )


IVF_CELL_HISTOGRAM_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM assigned)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(count(*) AS DOUBLE) / nt, 6) AS share
FROM assigned, tot
GROUP BY cell_id, nt
ORDER BY cell_id
"""


_IVFSQ8_INC_CACHE: dict[tuple, str] = {}


def _sq8_range_interior_split(emb):
    """``(base, delta)`` for the SQ8 append demo: the delta is the
    ids >= IVF_INC_SPLIT MINUS every carrier of a per-dimension
    min/max (ties included) — i.e. the largest late batch whose
    components all lie inside the range the base trains, which is
    exactly the batch :func:`similarity.update_ivfsq8_index` admits
    (an overflowing batch is refused and routed to a rebuild; the
    refusal is test-pinned). Because every per-dim extreme carrier
    stays in the base, the frozen ``sq8_stats`` EQUAL a rebuild's
    over base+delta, so the shared full-corpus ``knn_ivf_sq8``
    oracle stays exact. The extreme-carrier sweep is one
    component-exploded aggregate (dim-sized result) — delta
    construction, not query cost."""
    from pyspark.sql import functions as F

    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    )
    ext = comp.groupBy("d").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    carriers = (
        comp.join(ext, "d")
        .filter((F.col("x") == F.col("mn")) | (F.col("x") == F.col("mx")))
        .select("vec_id")
        .distinct()
    )
    delta = emb.filter(F.col("vec_id") >= IVF_INC_SPLIT).join(
        carriers, "vec_id", "left_anti"
    )
    base = emb.join(delta.select("vec_id"), "vec_id", "left_anti")
    return base, delta


def q_ivfsq8_topk_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``IVF,SQ8`` day-2 append under the oracle gate
    (similarity.py ``update_ivfsq8_index``): the index trains both
    quantizers on a base batch, then a late batch that lies INSIDE
    the trained per-dim range is re-encoded with the FROZEN stats
    and appended — the FAISS-faithful alternative to refusing every
    SQ8 add (out-of-range batches are still refused; that branch is
    pinned by tests/test_similarity.py). The frozen encode is
    lossless relative to a rebuild here (no range extension, seeds
    in base), hence the shared full-corpus ``knn_ivf_sq8`` oracle:
    a clamped code, wrong frozen assignment, or lost delta row
    hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVFSQ8_INC_CACHE.get(key)
    if path is None:
        base, delta = _sq8_range_interior_split(emb)
        path = tempfile.mkdtemp(prefix="elephant_ivfsq8_inc_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivfsq8_index(base, path, n_cells=IVF_CELLS)
        similarity.update_ivfsq8_index(spark, path, delta)
        _IVFSQ8_INC_CACHE[key] = path
    return similarity.ivfsq8_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, source=emb, n_probe=IVF_PROBE,
        k=KNN_K,
    )


KNN_FILTER_LANG = "en"

# The knn_ivf ranking restricted to candidates whose DOCUMENT passes
# the metadata predicate — probe geometry and cell assignments stay
# computed on the full table (FAISS IDSelector semantics: the filter
# restricts candidates, never the quantizer).
KNN_IVF_FILTERED_SQL = KNN_IVF_SQL.replace(
    f"WHERE e.vec_id <> {KNN_QUERY_VEC_ID}",
    f"WHERE e.vec_id <> {KNN_QUERY_VEC_ID} "
    f"AND e.vec_id IN (SELECT doc_id FROM documents "
    f"WHERE lang = '{KNN_FILTER_LANG}')",
)
assert KNN_IVF_FILTERED_SQL != KNN_IVF_SQL


def _lang_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == KNN_FILTER_LANG)
        .select("doc_id")
    )


def q_knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN under the oracle gate (operators/similarity.py
    ``ivf_topk`` with ``allowed``): top-k among the probed cells' vectors
    whose DOCUMENT (doc_id == vec_id) is English — the predicate is
    evaluated on the metadata table and semi-joined into the
    candidate set, while probe geometry stays computed on the full
    table. A filter applied too early (quantizer trained on the
    subset), too late (post-filtering the unfiltered top-k), or not
    at all each produces a different ranking and hash-mismatches."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, KNN_QUERY_VEC_ID, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        k=KNN_K, allowed=_lang_allowed(spark, sf_dir),
    )


def q_knn_ivf_filtered_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same filtered search over the MATERIALIZED IVF layout:
    the metadata semi-join lands on the statically partition-pruned
    scan, so filtered search still touches only the probed cells.
    Shares ``knn_ivf_filtered``'s oracle (same relation, different
    storage)."""
    emb = read_table(spark, sf_dir, "embeddings")
    path = ivf_index_path(spark, sf_dir)
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb, allowed=_lang_allowed(spark, sf_dir),
    )


MMR_K = 5
MMR_SHORTLIST = 20
MMR_LAMBDA = 0.5


def q_knn_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k (operators/similarity.py ``mmr_topk``):
    greedy λ·rel − (1−λ)·max-sim-to-selected over the exact
    top-20 relevance shortlist. The oracle UNROLLS the greedy
    selection — one CTE pair per rank (argmax over the remaining
    candidates against the accumulated selected set), the same
    spell-out-the-iterations technique as the kmeans_rounds oracle —
    so the full transcript (shortlist cut, every pick, every
    penalty) is verified, not just the final set membership."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.mmr_topk(
        emb, KNN_QUERY_VEC_ID, k=MMR_K, lam=MMR_LAMBDA,
        shortlist=MMR_SHORTLIST,
    )


def _mmr_oracle(k: int, shortlist: int, lam: float) -> str:
    """Greedy MMR unrolled to SQL: rank 1 is argmax of λ·rel; each
    later rank re-scores the remaining candidates against the
    accumulated ``sel{i}`` set (max over the rounded pair sims) and
    takes the argmax with the id tie-break. Scores stay unrounded
    through selection (identical IEEE ops on rounded-to-6 inputs in
    both engines); only the output rounds — mirroring mmr_topk."""
    oml = 1.0 - lam
    steps = [
        f"s1 AS (SELECT vec_id, {lam!r}*rel AS mmr FROM cands "
        f"ORDER BY rel DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM s1)",
    ]
    finals = [
        "SELECT CAST(1 AS BIGINT) AS rank, vec_id, "
        "round(mmr, 6) AS mmr_score FROM s1"
    ]
    for i in range(2, k + 1):
        steps.append(f"""r{i} AS (
    SELECT c.vec_id, {lam!r}*c.rel - {oml!r}*max(s.s) AS mmr
    FROM cands c JOIN sims s ON s.ia = c.vec_id
    WHERE s.ib IN (SELECT vec_id FROM sel{i - 1})
      AND c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    GROUP BY c.vec_id, c.rel
)""")
        steps.append(
            f"s{i} AS (SELECT vec_id, mmr FROM r{i} "
            f"ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
        steps.append(
            f"sel{i} AS (SELECT vec_id FROM sel{i - 1} "
            f"UNION ALL SELECT vec_id FROM s{i})"
        )
        finals.append(
            f"SELECT CAST({i} AS BIGINT), vec_id, round(mmr, 6) "
            f"FROM s{i}"
        )
    nl = ",\n".join(steps)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings
           WHERE vec_id = {KNN_QUERY_VEC_ID}),
cands AS (
    SELECT vec_id, embedding, rel FROM (
        SELECT e.vec_id, e.embedding,
               round({_dot_sql('e.embedding', 'q.qv')}
                     / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                        * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS rel
        FROM embeddings e, q
        WHERE e.vec_id <> {KNN_QUERY_VEC_ID}
          AND {_dot_sql('e.embedding', 'e.embedding')} > 0
          AND {_dot_sql('q.qv', 'q.qv')} > 0
    ) ORDER BY rel DESC, vec_id LIMIT {shortlist}
),
sims AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib, {_COS_AB} AS s
    FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
),
{nl}
SELECT rank, vec_id, mmr_score FROM (
    {" UNION ALL ".join(finals)}
) ORDER BY rank
"""


KNN_MMR_SQL = _mmr_oracle(MMR_K, MMR_SHORTLIST, MMR_LAMBDA)


# Deterministic delete set for the tombstone-delete gates: every
# fifth id. The query vector (vec_id 0) stays live; the centroid
# seeds and cell assignments are FROZEN at build time, so the oracle
# keeps computing them over the full table and only the candidate
# scan excludes the deleted ids — exactly what a tombstone anti-join
# (or the compaction that applies it) must produce.
KNN_DELETE_MOD = 5
KNN_DELETE_REM = 3

KNN_IVF_DELETED_SQL = KNN_IVF_SQL.replace(
    f"WHERE e.vec_id <> {KNN_QUERY_VEC_ID}",
    f"WHERE e.vec_id <> {KNN_QUERY_VEC_ID} "
    f"AND e.vec_id % {KNN_DELETE_MOD} <> {KNN_DELETE_REM}",
)
assert KNN_IVF_DELETED_SQL != KNN_IVF_SQL


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd (k-means) iteration on the embeddings: assign
    every vector to its nearest centroid (broadcast argmin,
    operators/similarity.py ivf_assign), then recompute per-cell
    elementwise means (cell_mean_centroids). The oracle replays both
    steps; looping this pair = distributed k-means."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, IVF_CELLS)
    assigned = similarity.ivf_assign(emb, cents)
    return similarity.cell_mean_centroids(emb, assigned)


KMEANS_STEP_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
)
SELECT a.cell_id,
       CAST(j - 1 AS BIGINT) AS d,
       round(sum(CAST(e.embedding[j] AS DOUBLE)) / count(*), 6) AS c
FROM assigned a
JOIN embeddings e USING (vec_id),
     unnest(range(1, {EMBED_DIM + 1})) AS t(j)
GROUP BY 1, 2
"""


KMEANS_ITERS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed k-means (operators/similarity.py kmeans):
    KMEANS_ITERS unrolled Lloyd rounds, centroids rounded per round
    so the whole trajectory is engine-replayable; the oracle unrolls
    the identical rounds in SQL."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.kmeans(emb, n_cells=IVF_CELLS,
                             iterations=KMEANS_ITERS)


def _kmeans_round_ctes(iters: int) -> str:
    """Round i: assignment a{i} against cents{i}, means m{i} (long),
    rebuilt list centroids cents{i+1}. cents0 is the raw seed."""
    l2_seed = _l2_sql("e.embedding", "c.cvec")
    parts = [f"""
cents0 AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
)"""]
    for i in range(iters):
        # rounded-mean centroid lists are DOUBLE[]; the same fold
        # works since both sides cast elementwise to double
        parts.append(f"""
a{i} AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({l2_seed}, 6), c.cell_id) AS rn
        FROM embeddings e, cents{i} c
    ) WHERE rn = 1
),
m{i} AS (
    SELECT a.cell_id,
           CAST(j - 1 AS BIGINT) AS d,
           round(sum(CAST(e.embedding[j] AS DOUBLE)) / count(*), 6) AS c
    FROM a{i} a
    JOIN embeddings e USING (vec_id),
         unnest(range(1, {EMBED_DIM + 1})) AS t(j)
    GROUP BY 1, 2
),
cents{i + 1} AS (
    SELECT cell_id, list(c ORDER BY d) AS cvec FROM m{i} GROUP BY 1
)""")
    return ",".join(parts)


KMEANS_TRAIN_SQL = f"""
WITH {_kmeans_round_ctes(KMEANS_ITERS)}
SELECT cell_id, d, c FROM m{KMEANS_ITERS - 1}
"""


def _ann_cache_key(sf_dir: str) -> tuple:
    """Per-process vector-index cache key: absolute path + the
    embeddings parquet's mtime/size, so a table regenerated at the
    same path (or the same dir spelled differently) never serves a
    stale index. Code changes can't happen within one process, so
    no code stamp is needed here (cf. _index_artifacts, which is
    cross-process)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = ("nostat",)
    return (os.path.abspath(sf_dir), *stamp)


_IVF_INDEX_CACHE: dict[tuple, str] = {}


def ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Per-process materialized IVF index for ``sf_dir``'s embeddings
    (built once per corpus stamp into a temp dir; see
    ``_ann_cache_key`` — a regenerated table at the same path never
    serves a stale index). Shared by every *_indexed ANN query."""
    import atexit
    import shutil
    import tempfile

    key = _ann_cache_key(sf_dir)
    path = _IVF_INDEX_CACHE.get(key)
    if path is None:
        emb = read_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="elephant_ivf_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivf_index(emb, path, n_cells=IVF_CELLS)
        _IVF_INDEX_CACHE[key] = path
    return path


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a *materialized* index (operators/similarity.py
    ``build_ivf_index``): cell assignment persisted partitioned by
    cell_id, so the probe is partition pruning instead of the inline
    O(n·n_cells) recompute of ``knn_ivf``. Semantics (probe cells,
    scoring, ordering) are identical, hence the same oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    path = ivf_index_path(spark, sf_dir)
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb,
    )


IVF_INC_SPLIT = 400
_IVF_INC_CACHE: dict[tuple, str] = {}


def q_ivf_topk_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN day-2 maintenance under the oracle gate
    (operators/similarity.py ``update_ivf_index``): the index is
    built from vectors with id < 400 only, then the rest arrive as
    an append-only delta assigned to the FROZEN centroids and
    appended to the cell-partitioned layout — the FAISS add()
    contract, delta-cost. Because the union's lowest-id seeds all
    lie in the base batch, the updated layout answers queries
    exactly like a full build — hence the shared ``knn_ivf``
    oracle: a wrong frozen-geometry assignment or a lost/duplicated
    delta row hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    key = _ann_cache_key(sf_dir)
    path = _IVF_INC_CACHE.get(key)
    if path is None:
        base = emb.filter(F.col("vec_id") < IVF_INC_SPLIT)
        delta = emb.filter(F.col("vec_id") >= IVF_INC_SPLIT)
        path = tempfile.mkdtemp(prefix="elephant_ivf_inc_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivf_index(base, path, n_cells=IVF_CELLS)
        similarity.update_ivf_index(spark, path, delta)
        _IVF_INC_CACHE[key] = path
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb,
    )


_IVF_COMPACT_CACHE: dict[tuple, str] = {}


def q_ivf_topk_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index COMPACTION under the oracle gate
    (operators/similarity.py ``compact_index``): the index is built
    from vectors with id < 400, fragmented by two incremental adds
    (one extra file per touched cell each — the small-files tax),
    then compacted. Compaction is a snapshot commit: the
    cell_id-keyed rewrite lands in a fresh ``vectors_v1`` generation
    and the manifest pointer flips atomically, so the query here
    plans against the rewritten generation. Rows/values must be
    untouched by the rewrite — hence the shared ``knn_ivf`` oracle:
    a row lost or duplicated by the rewrite, or a pointer flip
    serving a half-written generation, hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVF_COMPACT_CACHE.get(key)
    if path is None:
        mid = IVF_INC_SPLIT + 50
        base = emb.filter(F.col("vec_id") < IVF_INC_SPLIT)
        d1 = emb.filter(
            (F.col("vec_id") >= IVF_INC_SPLIT)
            & (F.col("vec_id") < mid)
        )
        d2 = emb.filter(F.col("vec_id") >= mid)
        path = tempfile.mkdtemp(prefix="elephant_ivf_compact_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivf_index(base, path, n_cells=IVF_CELLS)
        similarity.update_ivf_index(spark, path, d1)
        similarity.update_ivf_index(spark, path, d2)
        similarity.compact_index(spark, path)
        _IVF_COMPACT_CACHE[key] = path
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb,
    )


_IVF_DELETE_CACHE: dict[tuple, str] = {}
_IVF_DELETE_COMPACT_CACHE: dict[tuple, str] = {}


def _deleted_ids(emb: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return emb.filter(
        F.col("vec_id") % KNN_DELETE_MOD == KNN_DELETE_REM
    ).select("vec_id")


def q_ivf_topk_deleted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tombstone DELETE under the oracle gate
    (operators/similarity.py ``delete_from_index``): the index is
    built over the full table, then every fifth id is deleted —
    appended to the index's tombstone table, no corpus rewrite —
    and the query must hide them immediately via the broadcast
    anti-join on the indexed read. The oracle is the ``knn_ivf``
    ranking with the delete predicate on the candidate scan ONLY
    (centroid geometry and cell assignments stay frozen at their
    build-time values): a tombstone that leaks a deleted row into
    the top-k, or over-deletes a live one, hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVF_DELETE_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="elephant_ivf_del_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivf_index(emb, path, n_cells=IVF_CELLS)
        similarity.delete_from_index(spark, path, _deleted_ids(emb))
        _IVF_DELETE_CACHE[key] = path
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb,
    )


def q_ivf_topk_delete_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deletes SURVIVING compaction under the oracle gate: same
    build + tombstone delete as ``knn_ivf_deleted``, then
    ``compact_index`` applies the tombstones physically (the
    rewritten generation holds live rows only) and retires them in
    the same atomic manifest commit. Shares ``knn_ivf_deleted``'s
    oracle: a deleted row resurrected by the rewrite, a live row
    dropped with the dead ones, or a retired tombstone still
    filtering (harmless here but wrong if the id were re-added)
    hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVF_DELETE_COMPACT_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="elephant_ivf_delc_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivf_index(emb, path, n_cells=IVF_CELLS)
        similarity.delete_from_index(spark, path, _deleted_ids(emb))
        similarity.compact_index(spark, path)
        _IVF_DELETE_COMPACT_CACHE[key] = path
    return similarity.ivf_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, n_probe=IVF_PROBE, k=KNN_K,
        source=emb,
    )


def q_media_ppm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding under the oracle gate: valid binary P6
    payloads are synthesized from a closed-form pixel formula
    (operators/multimodal.py synth_ppm_payloads), then actually
    *parsed and decoded* (header tokenizer + buffer reshape,
    ppm_channel_stats) into per-channel means. The oracle recomputes
    the same means from the formula — a wrong header parse, pixel
    order, or channel split hash-mismatches."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_ppm_payloads(docs)
    stats = multimodal.ppm_channel_stats(payloads)
    return stats.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_media_ppm_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REAL (non-fake) decode_media path under the oracle gate:
    valid binary P6 payloads (closed-form pixels, synth_ppm_payloads)
    go through the magic-byte dispatch to the in-repo netpbm decoder
    (decode_ppm -> integer ITU-R luma -> nearest-neighbor 4x4
    thumbnail -> [0,1] floats; operators/multimodal.py
    _netpbm_features) — no PIL anywhere. The oracle recomputes every
    feature element from the pixel formula: resize index map, luma
    integer division, float32 quantization. Array output is exploded
    to scalar (doc_id, dim, val) rows for the hash compare."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_ppm_payloads(docs)
    feats = multimodal.decode_media(payloads, fake=False)
    return (
        feats.select(
            "doc_id", F.posexplode("feature").alias("dim", "v")
        )
        .select(
            "doc_id",
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("v").cast("double"), 6).alias("val"),
        )
        .orderBy("doc_id", "dim")
    )


# Oracle replay of the real netpbm feature path: nearest-neighbor
# index map ((i*h)//side), truncated integer luma, then the exact
# float32 quantization the ArrayType(FloatType) schema applies
# (CAST AS REAL) before the 6-decimal rounding.
_FEAT_SIDE = 4  # sqrt(FEATURE_DIM=16)

MEDIA_PPM_FEATURES_SQL = f"""
WITH dims AS (
    SELECT doc_id,
           doc_id % 16 + 8 AS w,
           doc_id % 8 + 8  AS h
    FROM documents
),
grid AS (
    SELECT doc_id, w, h, unnest(range(0, {_FEAT_SIDE * _FEAT_SIDE}))
               AS dim
    FROM dims
),
src AS (
    SELECT doc_id, dim, w,
           ((dim // {_FEAT_SIDE}) * h) // {_FEAT_SIDE} AS y,
           ((dim % {_FEAT_SIDE}) * w) // {_FEAT_SIDE} AS x
    FROM grid
),
luma AS (
    SELECT doc_id, dim,
           (((doc_id * 31 + ((y * w + x) * 3 + 0) * 7) % 256) * 299
            + ((doc_id * 31 + ((y * w + x) * 3 + 1) * 7) % 256) * 587
            + ((doc_id * 31 + ((y * w + x) * 3 + 2) * 7) % 256) * 114
           ) // 1000 AS g
    FROM src
)
SELECT doc_id, CAST(dim AS INTEGER) AS dim,
       round(CAST(CAST(CAST(g AS DOUBLE) / 255.0 AS REAL)
                  AS DOUBLE), 6) AS val
FROM luma
ORDER BY doc_id, dim
"""


def q_media_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over REAL decoded pixels:
    synthesize valid P6 payloads (closed-form pixels), decode, 8x8
    nearest-neighbor resize, integer-gray average-hash (bit k =
    [64*gray_k > sum gray], the integer-exact mean compare), packed
    as two 32-bit halves; pairs mined with a 4x16-bit band
    self-join (pigeonhole-complete for Hamming <= 3) and verified
    with exact xor+popcount. The oracle replays the identical
    pipeline from the pixel formula in SQL — resize index map,
    grayscale, threshold, packing, and the full quadratic pair join
    (banding is pure pruning, so results must match exactly)."""
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    # fused synth+decode+hash: one Python stage, payload bytes never
    # cross the JVM boundary (bit-identical to the two-stage
    # composition — see multimodal.synth_ahash_hashes)
    hashes = multimodal.synth_ahash_hashes(docs)
    return multimodal.phash_near_dup_pairs(hashes, thr=3).orderBy(
        "doc_a", "doc_b"
    )


# Oracle replay: dims/resize/gray/bits from the closed-form pixel
# formula (see synth_ppm_payloads), then an exact quadratic Hamming
# join — equivalent to the banded Spark plan for thr <= 3.
MEDIA_PHASH_SQL = """
WITH dims AS (
    SELECT doc_id,
           doc_id % 16 + 8 AS w,
           doc_id % 8 + 8  AS h
    FROM documents
),
cells AS (
    SELECT doc_id, w, h, unnest(range(0, 64)) AS k
    FROM dims
),
gray AS (
    SELECT doc_id, k,
           (  (doc_id * 31 + (3 * (((k // 8) * h // 8) * w
                                   + ((k % 8) * w // 8)) + 0) * 7) % 256
            + (doc_id * 31 + (3 * (((k // 8) * h // 8) * w
                                   + ((k % 8) * w // 8)) + 1) * 7) % 256
            + (doc_id * 31 + (3 * (((k // 8) * h // 8) * w
                                   + ((k % 8) * w // 8)) + 2) * 7) % 256
           ) // 3 AS g
    FROM cells
),
bits AS (
    SELECT doc_id, k,
           CASE WHEN 64 * g > sum(g) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS b
    FROM gray
),
hashes AS (
    SELECT doc_id,
           sum(CASE WHEN k >= 32
                    THEN CAST(b AS BIGINT) << (k - 32) ELSE 0 END) AS h_hi,
           sum(CASE WHEN k < 32
                    THEN CAST(b AS BIGINT) << k ELSE 0 END)        AS h_lo
    FROM bits
    GROUP BY doc_id
)
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h_hi, b.h_hi))
            + bit_count(xor(a.h_lo, b.h_lo)) AS BIGINT) AS hamming
FROM hashes a
JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h_hi, b.h_hi))
      + bit_count(xor(a.h_lo, b.h_lo)) <= 3
ORDER BY doc_a, doc_b
"""


def q_media_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decoding under the oracle gate: valid RIFF/WAV PCM
    payloads synthesized from a closed-form sample formula
    (multimodal.py synth_wav_payloads), then actually parsed (chunk
    walk, fmt/data) and decoded into per-clip statistics. int64 sums
    of int16 samples are exact, so means match bit-for-bit; the
    oracle recomputes everything from the formula."""
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_wav_payloads(docs)
    return multimodal.wav_sample_stats(payloads)


MEDIA_WAV_STATS_SQL = """
WITH dims AS (
    SELECT doc_id,
           doc_id % 500 + 100                         AS n,
           CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS rate
    FROM documents
),
samples AS (
    SELECT doc_id, n, rate,
           (doc_id * 37 + unnest(range(0, n)) * 11) % 4096 - 2048 AS s
    FROM dims
)
SELECT doc_id,
       rate                         AS sample_rate,
       CAST(n AS BIGINT)            AS n_samples,
       round(CAST(sum(s) AS DOUBLE) / n, 6) AS mean_amp,
       CAST(max(abs(s)) AS BIGINT)  AS peak,
       CAST(n * 1000 // rate AS BIGINT) AS duration_ms
FROM samples
GROUP BY doc_id, n, rate
"""


def q_media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate audit for the media-bytes contract
    (operators/multimodal.py media_validity) — the bytes-side member
    of the r13 dead-letter lane family (embeddings_quarantine /
    documents_quarantine, r14 verdict item 6): the media operators
    assume decodable payloads exactly as similarity assumed finite
    floats before r13, and decode_wav either raises inside an Arrow
    batch (killing the task) or — for the size_mismatch class —
    silently returns fewer samples than declared. The synthesized
    WAV corpus is valid by construction, so the query plants every
    broken class deterministically (doc_id residues, first match
    wins) and reports per-class quarantine counts. The Spark side
    classifies the REAL container bytes with pure column expressions
    (octet_length + 1-byte hex reads — zero shuffle, zero UDF); the
    oracle recomputes the same decision procedure from the payload's
    closed-form byte arithmetic (total = 44-byte canonical header +
    2 bytes/sample, declared RIFF size = total - 8), so a hash match
    proves the byte-level parse agrees with the spec arithmetic."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_wav_payloads(docs)
    did = F.col("doc_id")
    m = F.col("media")
    nb = F.octet_length(m)
    corrupt = (
        F.when(did % 97 == 0, F.lit(None).cast("binary"))
        .when(did % 101 == 1, F.lit(b""))
        .when(did % 103 == 2, F.substring(m, 1, 7))
        .when(did % 89 == 3, F.concat(F.lit(b"JUNK"), m.substr(F.lit(5), nb - 4)))
        .when(did % 113 == 5, m.substr(F.lit(1), nb - 5))
        .otherwise(m)
    )
    injected = payloads.select("doc_id", corrupt.alias("media"))
    classified = multimodal.media_validity(injected)
    return (
        classified.groupBy("validity")
        .agg(
            F.count("*").alias("n_payloads"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("validity")
    )


MEDIA_QUARANTINE_SQL = """
WITH dims AS (
    SELECT doc_id, 44 + 2 * (doc_id % 500 + 100) AS nb
    FROM documents
),
injected AS (
    -- the planted corruption, as byte-level facts: actual length,
    -- magic intact?, declared RIFF size (always total-8 — only the
    -- ACTUAL length or the magic is corrupted, never the header
    -- field itself)
    SELECT doc_id,
        (doc_id % 97 = 0) AS is_null,
        CASE
            WHEN doc_id % 97 = 0 THEN NULL
            WHEN doc_id % 101 = 1 THEN 0
            WHEN doc_id % 103 = 2 THEN 7
            WHEN doc_id % 89 = 3 THEN nb
            WHEN doc_id % 113 = 5 THEN nb - 5
            ELSE nb
        END AS nb_inj,
        NOT (doc_id % 97 <> 0 AND doc_id % 101 <> 1
             AND doc_id % 103 <> 2 AND doc_id % 89 = 3) AS magic_ok,
        nb - 8 AS declared
    FROM dims
),
classified AS (
    SELECT doc_id,
        CASE
            WHEN is_null THEN 'null_media'
            WHEN nb_inj = 0 THEN 'empty'
            WHEN nb_inj < 12 THEN 'truncated_header'
            WHEN NOT magic_ok THEN 'bad_magic'
            WHEN declared + 8 <> nb_inj THEN 'size_mismatch'
            ELSE 'ok'
        END AS validity
    FROM injected
)
SELECT validity, count(*) AS n_payloads,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM classified
GROUP BY validity
ORDER BY validity
"""


def q_media_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux under the oracle gate: multi-frame clips
    (concatenated binary P6 frames behind an index header) are
    actually demuxed — each frame's own header parsed for its
    varying dimensions — into per-frame integer-gray means; the
    container fan-out (one clip row -> n_frames rows) is the video
    pipeline shape. The oracle recomputes every frame statistic from
    the closed-form pixel formula."""
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_video_payloads(docs)
    return multimodal.video_frame_stats(payloads)


MEDIA_VIDEO_STATS_SQL = """
WITH frames AS (
    SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS fi
    FROM documents
),
dims AS (
    SELECT doc_id, fi,
           CAST(fi % 8 + 4 AS INTEGER) AS w,
           CAST(fi % 4 + 4 AS INTEGER) AS h,
           doc_id * 131 + fi * 17      AS seed
    FROM frames
),
px AS (
    SELECT doc_id, fi, w, h, seed,
           unnest(range(0, w * h)) AS q
    FROM dims
)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_idx,
       w AS width,
       h AS height,
       round(CAST(sum((  (seed * 31 + (3 * q + 0) * 7) % 256
                       + (seed * 31 + (3 * q + 1) * 7) % 256
                       + (seed * 31 + (3 * q + 2) * 7) % 256) // 3)
                  AS DOUBLE) / (w * h), 6) AS mean_gray
FROM px
GROUP BY doc_id, fi, w, h
"""


MEDIA_PPM_STATS_SQL = """
WITH dims AS (
    SELECT doc_id,
           CAST(doc_id % 16 + 8 AS INTEGER) AS width,
           CAST(doc_id % 8 + 8 AS INTEGER) AS height
    FROM documents
),
px AS (
    SELECT doc_id, width, height, unnest(range(0, width * height)) AS k
    FROM dims
)
SELECT doc_id, width, height,
       round(CAST(sum((doc_id * 31 + (3 * k + 0) * 7) % 256) AS DOUBLE)
             / (width * height), 6) AS mean_r,
       round(CAST(sum((doc_id * 31 + (3 * k + 1) * 7) % 256) AS DOUBLE)
             / (width * height), 6) AS mean_g,
       round(CAST(sum((doc_id * 31 + (3 * k + 2) * 7) % 256) AS DOUBLE)
             / (width * height), 6) AS mean_b
FROM px
GROUP BY 1, 2, 3
"""


# ------------------------------------------------------ text stats

_STOPS = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(_docs(spark, sf_dir))


TEXT_STATS_SQL = f"""
WITH {DOC_TOKS_CTE}
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars_calc,
       CAST(len(t.toks) AS BIGINT)    AS n_tokens,
       round(CASE WHEN len(t.toks) > 0 THEN
           list_reduce(list_transform(t.toks,
                       w -> CAST(length(w) AS DOUBLE)),
                       (x, y) -> x + y) / len(t.toks)
           ELSE 0.0 END, 6) AS avg_token_len,
       round((length(d.text)
              - length(regexp_replace(lower(d.text), '[^a-z0-9\\s]', '', 'g')))
             / greatest(length(d.text), 1), 6) AS punct_ratio,
       round((length(lower(d.text))
              - length(regexp_replace(lower(d.text), '[0-9]', '', 'g')))
             / greatest(length(d.text), 1), 6) AS digit_ratio,
       round(len(list_filter(t.toks, w -> w IN ({_STOPS})))
             / greatest(len(t.toks), 1), 6) AS stopword_ratio
FROM documents d JOIN doc_toks t USING (doc_id)
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_docs(spark, sf_dir))


LANG_ID_SQL = f"""
WITH {DOC_TOKS_CTE},
scored AS (
    SELECT doc_id,
           round(len(list_filter(toks, w -> w IN ({_STOPS})))
                 / greatest(len(toks), 1), 6) AS en_score
    FROM doc_toks
)
SELECT doc_id, en_score,
       CASE WHEN en_score > 0.05 THEN 'en' ELSE 'other' END AS pred_lang
FROM scored
"""


BOILER_MIN_DF, BOILER_FRAC = 5, 0.5


def q_boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate scoring (operators/dedup.py
    boilerplate_flags): shingles shared by >= 5 distinct docs are
    boilerplate; docs past 50% boilerplate shingles get flagged —
    the curation signal within-doc repetition metrics (Gopher flags)
    cannot see. Oracle replays the distinct-shingle doc-frequency
    table and the per-doc rollup."""
    return dedup.boilerplate_flags(
        _docs(spark, sf_dir),
        min_doc_freq=BOILER_MIN_DF,
        frac_threshold=BOILER_FRAC,
    )


BOILERPLATE_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE},
sh AS (
    SELECT DISTINCT doc_id, shingle FROM doc_shingles
),
freq AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY 1
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
       round(sum(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
             / count(*), 6) AS boilerplate_frac,
       (sum(CASE WHEN f.df >= {BOILER_MIN_DF} THEN 1 ELSE 0 END)
        >= {BOILER_FRAC} * count(*)) AS flagged
FROM sh s JOIN freq f USING (shingle)
GROUP BY s.doc_id
"""


BOILER_REL_FRAC = 0.01  # df >= 1% of docs (df >= 2 floor)


def q_boilerplate_flags_relative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """boilerplate_flags with the SCALE-INVARIANT relative cut
    (df >= 1% of docs, df >= 2 floor): the absolute ``df >= 5``
    threshold admits ever more ordinary phrases as the corpus grows
    100x, while a share-of-corpus cut keeps one meaning at every
    scale — evaluated as an integer cross-product against the 1-row
    corpus count so no float boundary flips membership."""
    return dedup.boilerplate_flags(
        _docs(spark, sf_dir),
        frac_threshold=BOILER_FRAC,
        min_doc_frac=BOILER_REL_FRAC,
    )


BOILERPLATE_REL_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE},
sh AS (
    SELECT DISTINCT doc_id, shingle FROM doc_shingles
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
freq AS (
    SELECT shingle,
           (df >= 2 AND df * {round(1.0 / BOILER_REL_FRAC)} >= nd)
               AS is_b
    FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1), nd
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.is_b THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
       round(sum(CASE WHEN f.is_b THEN 1 ELSE 0 END)
             / count(*), 6) AS boilerplate_frac,
       (sum(CASE WHEN f.is_b THEN 1 ELSE 0 END)
        >= {BOILER_FRAC} * count(*)) AS flagged
FROM sh s JOIN freq f USING (shingle)
GROUP BY s.doc_id
"""


BPE_TOP = 20


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistic (operators/textstats.py
    bpe_pair_counts): the top-20 adjacent character pairs within
    words, weighted by word frequency, computed over the
    vocabulary-sized distinct-word table (Heaps' law is what makes
    iterated BPE training cheap at 100 TB). Oracle replays the pair
    explosion over character offsets."""
    return textstats.bpe_pair_counts(
        _docs(spark, sf_dir), top_n=BPE_TOP
    )


BPE_PAIR_SQL = f"""
WITH {DOC_TOKS_CTE},
words AS (
    SELECT word, count(*) AS n FROM (
        SELECT unnest(toks) AS word FROM doc_toks
    ) GROUP BY 1
    HAVING length(word) >= 2
),
pairs AS (
    SELECT substr(word, CAST(i AS INTEGER), 1)     AS sym_a,
           substr(word, CAST(i AS INTEGER) + 1, 1) AS sym_b,
           n
    FROM words, unnest(range(1, length(word))) AS t(i)
)
SELECT sym_a, sym_b, CAST(sum(n) AS BIGINT) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, sym_a, sym_b
LIMIT {BPE_TOP}
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            w -> w <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_fingerprints(_docs(spark, sf_dir))


_HS = h32_sql_duckdb("s")
DOC_FINGERPRINTS_SQL = f"""
WITH {DOC_TOKS_CTE},
hashes AS (
    SELECT doc_id,
           list_transform(
               list_transform(
                   range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
               s -> {_HS}) AS hs
    FROM doc_toks
)
SELECT doc_id,
       coalesce(list_aggregate(hs, 'min'), -1) AS fp_min,
       coalesce(list_aggregate(hs, 'max'), -1) AS fp_max
FROM hashes
"""


# ------------------------------------------------------ multimodal

def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.multimodal import attach_fake_media

    media = attach_fake_media(_docs(spark, sf_dir))
    return media.select(
        "doc_id",
        F.octet_length("media").cast("long").alias("n_bytes"),
        F.md5("media").alias("content_md5"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").cast("long").alias("width"),
    )


MULTIMODAL_BYTES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text)                                  AS content_md5,
       'fake/raw'                                 AS format,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width
FROM documents
"""


def q_pandas_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.pandas_ws_token_counts(_docs(spark, sf_dir))


# python's str.split() splits on runs of whitespace and strips ends —
# same as DuckDB's regexp split after trim, counting empties out.
PANDAS_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                            w -> w <> '')) AS BIGINT) AS ws_tokens
FROM documents
"""


CURATE_MIN_TOKENS = 25
CURATE_MAX_TOKENS = 95
CURATE_SAMPLE = 0.8


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: ingest quarantine -> quality filter ->
    exact-dedup survivors -> reproducible 80% hash sample. The
    composition every training-data run executes, as one lazy plan
    (one corpus scan feeds stats + dedup branches; Catalyst handles
    the rest). The document ingest gate (operators/curation.py
    quarantine_documents, r13) runs first and in-plan since r14 —
    a pure column-expression filter that fuses into the corpus scan
    (no extra shuffle), so the contract is enforced rather than
    assumed; the oracle scans the same gated view (docs_ok)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.functions.text import tokens_array
    from bigdata_elephant_spark.operators.curation import (
        quarantine_documents,
    )
    from bigdata_elephant_spark.operators.sampling import hash_sample

    docs, _ = quarantine_documents(_docs(spark, sf_dir))
    # ONE projection computes both curation signals (token count +
    # normalized-text hash); dedup survivorship is a window rank per
    # hash instead of an aggregate + self-join, so the whole pipeline
    # is one corpus scan and one shuffle (by text hash).
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    base = docs.select(
        "doc_id",
        F.size(tokens_array("text")).cast("long").alias("n_tokens"),
        F.md5(norm).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy("doc_id")
    curated = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(
            F.col("n_tokens").between(CURATE_MIN_TOKENS, CURATE_MAX_TOKENS)
        )
        .select("doc_id", "n_tokens")
    )
    return hash_sample(curated, "doc_id", CURATE_SAMPLE)


CURATE_CORPUS_SQL = gate_docs_sql(f"""
WITH {DOC_TOKS_CTE},
stats AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM doc_toks
),
canon AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
)
SELECT s.doc_id, s.n_tokens
FROM stats s JOIN canon c USING (doc_id)
WHERE s.n_tokens BETWEEN {CURATE_MIN_TOKENS} AND {CURATE_MAX_TOKENS}
  AND ({h32_sql_duckdb("CAST(s.doc_id AS VARCHAR)")} % 10000)
      < {int(CURATE_SAMPLE * 10000)}
""")


FRAME_SIZE = 64
FRAME_STRIDE = 4


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.multimodal import (
        attach_fake_media,
        frame_sample,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    frames = frame_sample(
        media, frame_size=FRAME_SIZE, stride=FRAME_STRIDE
    )
    # frame_crc has no DuckDB equivalent — covered by pytest instead.
    return frames.select("doc_id", "frame_idx", "frame_bytes")


MEDIA_FRAMES_SQL = f"""
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(least({FRAME_SIZE}, nb - fi * {FRAME_SIZE}) AS BIGINT)
           AS frame_bytes
FROM (
    SELECT doc_id,
           octet_length(encode(text)) AS nb,
           unnest(range(0, (octet_length(encode(text)) + {FRAME_SIZE - 1})
                           // {FRAME_SIZE}, {FRAME_STRIDE})) AS fi
    FROM documents
)
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake decode: md5-seeded feature vectors. The RNG
    itself is not SQL-expressible, but it IS deterministic (md5-seeded
    from the payload), so the oracle is a precomputed VALUES table of
    per-payload fingerprints keyed by ``md5(text)`` (see
    :func:`_media_features_oracle`) — giving this entry a full
    hash-checked driver row instead of the old rows-only check.

    The registry entry collapses the ``array<float>`` feature into an
    md5 fingerprint so every output column is scalar (the driver
    canonicalizer cannot hash Python lists). Formatting: each float32
    is widened to double and cast to DECIMAL(12,6) — fixed-scale
    HALF_UP strings that Python's ``decimal`` reproduces exactly
    (``fake_feature_fingerprint``), unlike raw double->string
    scientific notation. ``decode_media`` itself keeps the array API
    for programmatic callers."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.multimodal import (
        attach_fake_media,
        decode_media,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    feats = decode_media(media, fake=True)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "feature",
                    lambda x: x.cast("decimal(12,6)").cast("string"),
                ),
            )
        ).alias("feature_md5"),
    ).orderBy("doc_id")


def _media_features_oracle() -> str:
    """Build the DuckDB oracle for ``media_features``: a VALUES table
    ``(text_md5, feature_md5)`` computed driver-side in pure Python
    over the distinct document texts of the correctness-gate scale
    factors (sf0.001 and sf0.01 — the SFs the driver and the local
    parity mirror replay), joined back on ``md5(d.text)`` so the same
    SQL string is correct at either SF. ``n_bytes`` is computed by
    DuckDB itself. A run at an uncovered SF fails loudly (inner join
    drops rows -> row-count mismatch) rather than silently passing.

    The fingerprints replay the exact mapInPandas decode
    (``_fake_features``: md5-seeded numpy Generator) plus the exact
    DECIMAL(12,6) formatting of the Spark query — see
    ``fake_feature_fingerprint`` for the cross-engine formatting
    contract.

    Invoked LAZILY (the registry memoizes it on first
    ``oracle_sql()`` access) so importing the registry never pays
    the testdata scan + ~500 RNG fingerprints; the testdata root
    follows the same env the test fixtures use
    (``ELEPHANT_TEST_SF_DIR``'s parent, default
    ``/root/testdata``)."""
    import os

    import pyarrow.parquet as pq

    from bigdata_elephant_spark.operators.multimodal import (
        fake_feature_fingerprint,
    )

    root = os.path.dirname(
        os.environ.get(
            "ELEPHANT_TEST_SF_DIR", "/root/testdata/sf0.001"
        ).rstrip("/")
    ) or "/root/testdata"
    rows: dict[str, str] = {}
    for sf in ("sf0.001", "sf0.01"):
        path = os.path.join(root, sf, "documents.parquet")
        if not os.path.exists(path):
            continue
        for text in pq.read_table(path, columns=["text"]).column(
            "text"
        ).to_pylist():
            payload = text.encode("utf-8")
            key = hashlib.md5(payload).hexdigest()
            if key not in rows:
                rows[key] = fake_feature_fingerprint(payload)
    if not rows:
        # Testdata not present at import time (non-driver env):
        # keep the SQL syntactically valid; the inner join then
        # returns 0 rows, surfacing a loud row-count mismatch
        # instead of an import crash.
        rows = {"no-testdata": "no-testdata"}
    values = ",\n".join(
        f"('{k}', '{v}')" for k, v in sorted(rows.items())
    )
    return f"""
WITH fp(text_md5, feature_md5) AS (VALUES
{values}
)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       fp.feature_md5
FROM documents d JOIN fp ON md5(d.text) = fp.text_md5
ORDER BY d.doc_id
"""


def q_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: every document's token count next to its
    embedding's norm and cluster label (doc_id == vec_id). The
    text-plus-vector view a curation pipeline filters on; at scale
    both sides are bucketed on the id so this join is shuffle-free."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.similarity import _norm2

    stats = textstats.text_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens"
    )
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("label").cast("long").alias("label"),
        F.round(F.sqrt(_norm2(F.col("embedding"))), 6).alias("emb_norm"),
    )
    return stats.join(emb, "doc_id")


_NORM_SQL = (
    f"sqrt({_dot_sql('embedding', 'embedding')})"
)

DOC_EMBEDDING_JOIN_SQL = f"""
WITH {DOC_TOKS_CTE}
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(e.label AS BIGINT)     AS label,
       round({_NORM_SQL}, 6)       AS emb_norm
FROM doc_toks t JOIN embeddings e ON e.vec_id = t.doc_id
"""


RESIZE_W = 32
RESIZE_H = 32


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing fingerprints: deterministic byte resampling in
    mapInPandas; the oracle recomputes the truncate/cycle byte math
    (testdata text is ASCII, so char ops == byte ops in SQL)."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.multimodal import (
        attach_fake_media,
        resize_media,
    )

    resized = resize_media(
        attach_fake_media(_docs(spark, sf_dir)),
        target_w=RESIZE_W,
        target_h=RESIZE_H,
    )
    return resized.select(
        "doc_id",
        F.octet_length("media").cast("long").alias("n_bytes"),
        F.md5("media").alias("content_md5"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


_RSZ = RESIZE_W * RESIZE_H

MEDIA_RESIZE_SQL = f"""
SELECT doc_id,
       CAST({_RSZ} AS BIGINT) AS n_bytes,
       md5(substr(
           repeat(text, CAST(ceil({_RSZ}.0 / length(text)) AS INT)),
           1, {_RSZ})) AS content_md5,
       CAST({RESIZE_W} AS BIGINT) AS width,
       CAST({RESIZE_H} AS BIGINT) AS height
FROM documents
"""


# Common-English char-trigram profile (fixed so any engine replays it).
EN_TRIGRAMS = (
    "the", "ing", "and", "ion", "ent", "for", "tio", "ere", "her", "ate",
)


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram language ID: fraction of the doc's character
    trigrams found in a fixed English profile — the real lang-ID
    shape (per-language n-gram profiles), single-profile here.
    Expression-only: the normalized text is projected to a column
    before the trigram transform (HOF lambdas re-evaluate inlined
    subtrees per element)."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z ]", "").alias("__norm"),
    )
    n = F.length("__norm")
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(0))),
        lambda i: F.substring(F.col("__norm"), i, 3),
    )
    hits = F.size(F.filter(tri, lambda t: t.isin(*EN_TRIGRAMS)))
    score = F.round(
        hits / F.greatest(F.size(tri), F.lit(1)), 6
    )
    return norm.select(
        "doc_id",
        score.alias("en_trigram_score"),
        F.when(score > 0.02, F.lit("en")).otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


def q_lang_id_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id_profiles(_docs(spark, sf_dir))


def _profile_score_sql(p: tuple[str, ...]) -> str:
    s = ", ".join(f"'{t}'" for t in p)
    return (
        f"round(len(list_filter(tri, t -> t IN ({s})))"
        " / greatest(len(tri), 1), 6)"
    )


_PROFILES_SORTED = sorted(textstats.LANG_TRIGRAM_PROFILES.items())
_SCORE_COLS = ",\n       ".join(
    f"{_profile_score_sql(p)} AS score_{lang}"
    for lang, p in _PROFILES_SORTED
)
_BEST = "greatest(" + ", ".join(
    f"score_{lang}" for lang, _ in _PROFILES_SORTED
) + ")"
_PRED = "CASE WHEN " + _BEST + " = 0 THEN 'unknown' " + " ".join(
    f"WHEN score_{lang} = {_BEST} THEN '{lang}'"
    for lang, _ in _PROFILES_SORTED
) + " END"

LANG_ID_PROFILES_SQL = f"""
WITH norm AS (
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z ]', '', 'g') AS n
    FROM documents
),
tris AS (
    SELECT doc_id,
           list_transform(range(1, greatest(length(n) - 2, 0) + 1),
                          i -> substr(n, i, 3)) AS tri
    FROM norm
),
scored AS (
    SELECT doc_id,
           {_SCORE_COLS}
    FROM tris
)
SELECT doc_id, {", ".join(f"score_{l}" for l, _ in _PROFILES_SORTED)},
       {_PRED} AS pred_lang
FROM scored
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation diagnostic: confusion matrix of the declared ``lang``
    column against the char-trigram detector's prediction — the
    report that tells you whether to trust upstream language labels
    before routing 100 TB through per-language pipelines. One
    detector pass + one (declared, detected)-keyed count."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    detected = textstats.lang_id_profiles(docs).select(
        "doc_id", "pred_lang"
    )
    return (
        docs.select("doc_id", F.col("lang").alias("declared_lang"))
        .join(detected, "doc_id")
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


LANG_CONFUSION_SQL = f"""
SELECT d.lang AS declared_lang, p.pred_lang, count(*) AS n
FROM documents d JOIN ({LANG_ID_PROFILES_SQL}) p USING (doc_id)
GROUP BY 1, 2
"""


_TRI_SET = ", ".join(f"'{t}'" for t in EN_TRIGRAMS)

LANG_ID_NGRAM_SQL = f"""
WITH norm AS (
    SELECT doc_id,
           regexp_replace(lower(text), '[^a-z ]', '', 'g') AS n
    FROM documents
),
tris AS (
    SELECT doc_id,
           list_transform(range(1, greatest(length(n) - 2, 0) + 1),
                          i -> substr(n, i, 3)) AS tri
    FROM norm
)
SELECT doc_id,
       round(len(list_filter(tri, t -> t IN ({_TRI_SET})))
             / greatest(len(tri), 1), 6) AS en_trigram_score,
       CASE WHEN round(len(list_filter(tri, t -> t IN ({_TRI_SET})))
                       / greatest(len(tri), 1), 6) > 0.02
            THEN 'en' ELSE 'other' END AS pred_lang
FROM tris
"""


# --------------------------------------------- containment dedup


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment dedup (operators/dedup.py): docs whose
    whole shingle set lives inside another doc — the embedded-
    duplicate case symmetric Jaccard under-scores. Complete blocking
    via the min-shingle-hash lemma; exact intersection verify."""
    return dedup.containment_pairs(_docs(spark, sf_dir))


CONTAINMENT_PAIRS_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE},
sh AS (
    SELECT DISTINCT doc_id, {h32_sql_duckdb("shingle")} AS h
    FROM doc_shingles
),
stats AS (
    SELECT doc_id, count(*) AS n_sh, min(h) AS min_h
    FROM sh GROUP BY 1 HAVING count(*) >= 5
),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a
    FROM stats a JOIN sh b
      ON a.min_h = b.h AND a.doc_id <> b.doc_id
),
shared AS (
    SELECT c.doc_a, c.doc_b, c.n_a, count(*) AS n_shared
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
    GROUP BY 1, 2, 3
)
SELECT s.doc_a, s.doc_b,
       CAST(s.n_a AS BIGINT) AS n_a,
       CAST(s.n_shared AS BIGINT) AS n_shared
FROM shared s JOIN stats nb ON nb.doc_id = s.doc_b
WHERE s.n_shared = s.n_a
  AND (s.n_a < nb.n_sh OR (s.n_a = nb.n_sh AND s.doc_a < s.doc_b))
ORDER BY 1, 2
"""


# ------------------------------------------------- dedup reporting


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) duplication report: corpus health dashboard
    numbers — doc counts, distinct normalized texts, and the dup rate
    — in one grouped aggregate over the same normalization the exact
    dedup uses (so the report's numbers reconcile with dedup_exact's
    survivors). count_distinct is two-phase partial-aggregated; the
    dup-rate division is exact-int → identical cross-engine."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    norm = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    )
    return (
        docs.select("lang", "source", norm.alias("__h"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("__h").alias("n_unique"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_unique",
            F.round(
                (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("lang", "source")
    )


DEDUP_REPORT_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(count(DISTINCT md5(regexp_replace(trim(lower(text)),
                                              '\\s+', ' ', 'g')))
            AS BIGINT) AS n_unique,
       round((count(*) - count(DISTINCT md5(regexp_replace(
                  trim(lower(text)), '\\s+', ' ', 'g'))))
             / count(*), 6) AS dup_rate
FROM documents
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------- decontamination / LM

DECON_TRAIN_FRAC = 0.8
DECON_FLAG_OVERLAP = 0.8


def q_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check — the audit every benchmark
    split needs: hash-split the corpus (the same deterministic bucket
    function the sampling operators use, so the split is reproducible
    on any engine), then measure what fraction of each eval doc's
    3-gram shingles also appear anywhere in train. overlap ≥ 0.8
    flags leaked near-duplicates; background trigram collisions on
    this corpus sit near 0.5.

    Shape: shingle explode both sides; the train side collapses to
    DISTINCT shingles (the contamination index — at 100 TB this is
    the thing you materialize, bucketed by shingle hash); eval joins
    it per-shingle with a LEFT join and aggregates per doc. Join keys
    are shingles — Zipf-headed, but the train side is distinct so the
    hot key fan-out is 1×eval-side only."""
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.operators.sampling import sample_bucket

    docs = _docs(spark, sf_dir)
    bucket = sample_bucket("doc_id")
    lo = int(DECON_TRAIN_FRAC * 10000)
    sh = dedup.doc_shingles(docs)
    train_sh = (
        sh.filter(bucket < lo).select("shingle").distinct()
        .withColumn("__hit", F.lit(1))
    )
    eval_sh = sh.filter(bucket >= lo).distinct()
    return (
        eval_sh.join(train_sh, ["shingle"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6)
            .alias("overlap_frac"),
            (
                F.round(F.col("n_shared") / F.col("n_shingles"), 6)
                >= DECON_FLAG_OVERLAP
            ).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_DECON_H = h32_sql_duckdb("CAST(doc_id AS VARCHAR)")

DECONTAMINATE_SQL = f"""
WITH {DOC_TOKS_CTE}, {DOC_SHINGLES_CTE},
train_sh AS (
    SELECT DISTINCT shingle FROM doc_shingles
    WHERE ({_DECON_H} % 10000) < {int(DECON_TRAIN_FRAC * 10000)}
),
ev AS (
    SELECT DISTINCT doc_id, shingle FROM doc_shingles
    WHERE ({_DECON_H} % 10000) >= {int(DECON_TRAIN_FRAC * 10000)}
),
st AS (
    SELECT e.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared
    FROM ev e LEFT JOIN train_sh t USING (shingle)
    GROUP BY 1
)
SELECT doc_id, n_shingles, n_shared,
       round(n_shared / n_shingles, 6) AS overlap_frac,
       round(n_shared / n_shingles, 6) >= {DECON_FLAG_OVERLAP}
           AS contaminated
FROM st ORDER BY doc_id
"""


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: each doc's mean token
    surprisal −ln p(w) under the corpus's own unigram distribution —
    low = boilerplate of common tokens, high = rare-token noise; the
    cheap perplexity proxy used to band corpora before an expensive
    LM scorer.

    Cross-engine float discipline: ln() runs only on the vocabulary-
    sized frequency table and is rounded to 6 decimals THERE, then
    cast to exact decimal — so the per-doc summation (the order-
    nondeterministic part) is an exact decimal sum of identical
    addends on both engines. Two passes over tokens (freq build +
    score join). The vocabulary-sized score table joins back
    UNHINTED: the vocabulary grows with the corpus (Heaps' law,
    >8 GB at 100 TB) and a forced broadcast hint fails past Spark's
    limit instead of degrading — AQE broadcast-converts it at small
    scale from runtime sizes; only the 1-row total keeps a hint."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(dedup.tokens_array("text")).alias("w")
    )
    freqs = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freqs.agg(F.sum("c").alias("t"))
    s = (
        freqs.crossJoin(F.broadcast(tot))
        .select(
            "w",
            F.round(F.log(F.col("t")) - F.log(F.col("c")), 6)
            .cast("decimal(18,6)")
            .alias("s_w"),
        )
    )
    return (
        words.join(s, ["w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("s_w").cast("double") / F.count("*"), 6
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


UNIGRAM_SURPRISAL_SQL = f"""
WITH {DOC_TOKS_CTE},
words AS (SELECT doc_id, unnest(toks) AS w FROM doc_toks),
freqs AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM freqs),
s AS (
    SELECT w, CAST(round(ln(t) - ln(c), 6) AS DECIMAL(18,6)) AS s_w
    FROM freqs, tot
)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(sum(s_w) AS DOUBLE) / count(*), 6) AS avg_surprisal
FROM words JOIN s USING (w)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------- repetition quality


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.gopher_repetition(_docs(spark, sf_dir))


GOPHER_REPETITION_SQL = f"""
WITH {DOC_TOKS_CTE},
words AS (SELECT doc_id, unnest(toks) AS w FROM doc_toks),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
ws AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS topw
       FROM wc GROUP BY 1),
bgs AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM doc_toks),
bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
bs AS (SELECT doc_id, sum(c) AS nb, max(c) AS topb FROM bc GROUP BY 1)
SELECT t.doc_id,
       CAST(coalesce(ws.n, 0) AS BIGINT) AS n_tokens,
       round((coalesce(ws.n, 0) - coalesce(ws.d, 0))
             / greatest(coalesce(ws.n, 0), 1), 6) AS dup_word_frac,
       round(coalesce(ws.topw, 0)
             / greatest(coalesce(ws.n, 0), 1), 6) AS top_word_frac,
       round(coalesce(bs.topb, 0)
             / greatest(coalesce(bs.nb, 0), 1), 6) AS top_bigram_frac,
       (round((coalesce(ws.n, 0) - coalesce(ws.d, 0))
              / greatest(coalesce(ws.n, 0), 1), 6) < 0.55
        AND round(coalesce(ws.topw, 0)
                  / greatest(coalesce(ws.n, 0), 1), 6) < 0.12
        AND round(coalesce(bs.topb, 0)
                  / greatest(coalesce(bs.nb, 0), 1), 6) < 0.10)
           AS quality_pass
FROM doc_toks t
LEFT JOIN ws ON t.doc_id = ws.doc_id
LEFT JOIN bs ON t.doc_id = bs.doc_id
"""


def q_corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.corpus_ngram_counts(_docs(spark, sf_dir), n=2)


# ------------------------------------------- eval decontamination

CONTAM_EVAL_MOD = 20  # doc_id % 20 == 0 -> "benchmark" split (5%)
CONTAM_FLAG_FRAC = 0.1


def q_eval_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-set decontamination against a held-out benchmark
    split: 5% of the corpus (``doc_id % 20 == 0``) plays the eval
    set; every remaining document reports what fraction of its
    distinct trigrams leaks from it (operators/dedup.py
    ngram_contamination — broadcast eval n-gram set, one train-side
    shuffle). The synthetic corpus contains near-duplicate templates
    across the split, so nonzero contamination rows genuinely
    exist."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id") % CONTAM_EVAL_MOD == 0
    return dedup.ngram_contamination(
        docs.filter(~is_eval),
        docs.filter(is_eval),
        n=3,
        flag_frac=CONTAM_FLAG_FRAC,
    ).orderBy("doc_id")


EVAL_CONTAMINATION_SQL = f"""
WITH {DOC_TOKS_CTE},
sh AS (
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
    FROM doc_toks
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
ev AS (
    SELECT DISTINCT shingle FROM dsh
    WHERE doc_id % {CONTAM_EVAL_MOD} = 0
),
tr AS (SELECT * FROM dsh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
tot AS (SELECT doc_id, count(*) AS n_ngrams FROM tr GROUP BY 1),
hit AS (
    SELECT t.doc_id, count(*) AS n_overlap
    FROM tr t JOIN ev USING (shingle) GROUP BY 1
)
SELECT tot.doc_id,
       CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(CAST(coalesce(n_overlap, 0) AS DOUBLE) / n_ngrams, 6)
           AS contamination,
       (CAST(coalesce(n_overlap, 0) AS DOUBLE) / n_ngrams
        >= {CONTAM_FLAG_FRAC}) AS flagged
FROM tot LEFT JOIN hit USING (doc_id)
ORDER BY doc_id
"""


CORPUS_BIGRAMS_SQL = f"""
WITH {DOC_TOKS_CTE},
bgs AS (
    SELECT unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS gram
    FROM doc_toks)
SELECT gram, CAST(count(*) AS BIGINT) AS cnt
FROM bgs GROUP BY 1
ORDER BY cnt DESC, gram
LIMIT 50
"""




# ----------------- Gopher n-gram repetition filters (char-fraction)
#
# Complements the word/bigram-level ``gopher_repetition`` (above, an
# earlier round): this one is the paper's A1.1 n-gram table proper —
# top-{2,3,4}-gram CHARACTER fractions and the duplicate-5-gram
# fraction, with the published thresholds as integer cross-product
# comparisons.

GOPHER_NGRAM_SQL = f"""
WITH {DOC_TOKS_CTE},
gbase AS (
    SELECT doc_id, toks,
           CAST(list_sum(list_transform(toks, t -> length(t)))
               AS BIGINT) AS chars_total
    FROM doc_toks WHERE len(toks) >= 5
),
g2 AS (
    SELECT doc_id, chars_total,
           unnest(list_transform(range(1, len(toks) - 2 + 2),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS g
    FROM gbase
),
c2 AS (
    SELECT doc_id, chars_total, g, count(*) AS c
    FROM g2 GROUP BY 1, 2, 3
),
m2 AS (
    SELECT doc_id, max(c) AS cmax FROM c2 GROUP BY 1
),
t2 AS (
    SELECT c.doc_id, c.chars_total,
           CAST(max(c.c) * (length(min(c.g)) - 1) AS BIGINT)
               AS top2_chars
    FROM c2 c JOIN m2 m
      ON m.doc_id = c.doc_id AND c.c = m.cmax
    GROUP BY 1, 2
),
g3 AS (
    SELECT doc_id, chars_total,
           unnest(list_transform(range(1, len(toks) - 3 + 2),
                                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
    FROM gbase
),
c3 AS (
    SELECT doc_id, chars_total, g, count(*) AS c
    FROM g3 GROUP BY 1, 2, 3
),
m3 AS (
    SELECT doc_id, max(c) AS cmax FROM c3 GROUP BY 1
),
t3 AS (
    SELECT c.doc_id, c.chars_total,
           CAST(max(c.c) * (length(min(c.g)) - 2) AS BIGINT)
               AS top3_chars
    FROM c3 c JOIN m3 m
      ON m.doc_id = c.doc_id AND c.c = m.cmax
    GROUP BY 1, 2
),
g4 AS (
    SELECT doc_id, chars_total,
           unnest(list_transform(range(1, len(toks) - 4 + 2),
                                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS g
    FROM gbase
),
c4 AS (
    SELECT doc_id, chars_total, g, count(*) AS c
    FROM g4 GROUP BY 1, 2, 3
),
m4 AS (
    SELECT doc_id, max(c) AS cmax FROM c4 GROUP BY 1
),
t4 AS (
    SELECT c.doc_id, c.chars_total,
           CAST(max(c.c) * (length(min(c.g)) - 3) AS BIGINT)
               AS top4_chars
    FROM c4 c JOIN m4 m
      ON m.doc_id = c.doc_id AND c.c = m.cmax
    GROUP BY 1, 2
),
g5 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 5 + 2),
                                 i -> toks[i] || ' ' || toks[i + 1]
                                      || ' ' || toks[i + 2]
                                      || ' ' || toks[i + 3]
                                      || ' ' || toks[i + 4])) AS g
    FROM gbase
),
c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
d5 AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n5,
           CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
               AS BIGINT) AS dup5
    FROM c5 GROUP BY 1
)
SELECT t2.doc_id,
       t2.chars_total,
       round(CAST(top2_chars AS DOUBLE) / t2.chars_total, 6)
           AS top2_frac,
       round(CAST(top3_chars AS DOUBLE) / t2.chars_total, 6)
           AS top3_frac,
       round(CAST(top4_chars AS DOUBLE) / t2.chars_total, 6)
           AS top4_frac,
       round(CAST(dup5 AS DOUBLE) / n5, 6) AS dup5_frac,
       (top2_chars * 100 <= t2.chars_total * {textstats.GOPHER_TOP_PCT[2]}
        AND top3_chars * 100 <= t2.chars_total * {textstats.GOPHER_TOP_PCT[3]}
        AND top4_chars * 100 <= t2.chars_total * {textstats.GOPHER_TOP_PCT[4]}
        AND dup5 * 100 <= n5 * {textstats.GOPHER_DUP5_PCT}) AS keep
FROM t2
JOIN t3 USING (doc_id)
JOIN t4 USING (doc_id)
JOIN d5 USING (doc_id)
ORDER BY doc_id
"""


def q_gopher_ngram_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 A1.1, the public
    MassiveText quality recipe): per-doc top-{{2,3,4}}-gram character
    fractions, duplicate-5-gram occurrence fraction, and the
    paper-threshold keep flag — integer cross-product comparisons so
    no float boundary can flip a document between engines."""
    from bigdata_elephant_spark.operators.textstats import (
        gopher_repetition_scores,
    )

    return gopher_repetition_scores(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


SPECS = [
    QuerySpec("dedup_exact", q_dedup_exact, DEDUP_EXACT_SQL,
              ("llm", "dedup"), bench=True),
    QuerySpec("curate_corpus", q_curate_corpus, CURATE_CORPUS_SQL,
              ("llm", "pipeline"), bench=True),
    QuerySpec("minhash_signatures", q_minhash_signatures,
              MINHASH_SIGNATURES_SQL, ("llm", "dedup")),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash_lsh,
              DEDUP_MINHASH_LSH_SQL, ("llm", "dedup"), bench=True),
    QuerySpec("dedup_lsh_edges", q_dedup_lsh_edges,
              DEDUP_LSH_EDGES_SQL, ("llm", "dedup"), bench=True),
    QuerySpec("lsh_bucket_histogram", q_lsh_bucket_histogram,
              LSH_BUCKET_HISTOGRAM_SQL, ("llm", "dedup", "report")),
    QuerySpec("eval_contamination", q_eval_contamination,
              EVAL_CONTAMINATION_SQL, ("llm", "dedup", "text"),
              bench=True),
    QuerySpec("incremental_dedup", q_incremental_dedup,
              INCREMENTAL_DEDUP_SQL, ("llm", "dedup", "incremental")),
    QuerySpec("incremental_dedup_edges", q_incremental_dedup_edges,
              INCREMENTAL_DEDUP_EDGES_SQL,
              ("llm", "dedup", "incremental")),
    QuerySpec("dedup_groups", q_dedup_groups, DEDUP_GROUPS_SQL,
              ("llm", "dedup", "iterative"), bench=True,
              step_fn=q_dedup_groups_step),
    QuerySpec("dupgraph_triangles", q_dupgraph_triangles,
              DUPGRAPH_TRIANGLES_SQL, ("llm", "graph")),
    QuerySpec("dupgraph_triangles_degree", q_dupgraph_triangles_degree,
              DUPGRAPH_TRIANGLES_SQL, ("llm", "graph")),
    QuerySpec("pagerank_dangling", q_pagerank_dangling,
              PAGERANK_DANGLING_SQL, ("graph",)),
    QuerySpec("pagerank_dupgraph", q_pagerank_dupgraph, PAGERANK_SQL,
              ("llm", "graph", "iterative"), bench=True,
              step_fn=q_pagerank_dupgraph_step),
    QuerySpec("minhash_est_error", q_minhash_est_error,
              MINHASH_EST_ERROR_SQL, ("llm", "dedup", "report")),
    QuerySpec("dedup_lsh_recall", q_dedup_lsh_recall,
              DEDUP_LSH_RECALL_SQL, ("llm", "dedup", "report")),
    QuerySpec("simhash_signatures", q_simhash_signatures,
              SIMHASH_SIGNATURES_SQL, ("llm", "dedup")),
    QuerySpec("dedup_simhash_pairs", q_simhash_pairs,
              SIMHASH_PAIRS_SQL, ("llm", "dedup")),
    QuerySpec("ngram_jaccard_pairs", q_ngram_jaccard, NGRAM_JACCARD_SQL,
              ("llm", "dedup")),
    QuerySpec("duplicate_passages", q_duplicate_passages,
              DUPLICATE_PASSAGES_SQL, ("llm", "dedup", "text"),
              bench=True),
    QuerySpec("knn_cosine", q_knn_cosine, KNN_COSINE_SQL,
              ("llm", "similarity"), bench=True),
    QuerySpec("embeddings_quarantine", q_embeddings_quarantine,
              EMBEDDINGS_QUARANTINE_SQL, ("llm", "similarity")),
    QuerySpec("knn_cosine_lsh", q_knn_cosine_lsh, KNN_COSINE_LSH_SQL,
              ("llm", "similarity")),
    QuerySpec("kmeans_step", q_kmeans_step, KMEANS_STEP_SQL,
              ("llm", "similarity", "iterative")),
    QuerySpec("kmeans_train", q_kmeans_train, KMEANS_TRAIN_SQL,
              ("llm", "similarity", "iterative")),
    QuerySpec("knn_cosine_lsh_multiprobe", q_knn_cosine_lsh_multiprobe,
              KNN_COSINE_LSH_MULTIPROBE_SQL, ("llm", "similarity")),
    QuerySpec("knn_pq", q_knn_pq, KNN_PQ_SQL,
              ("llm", "similarity", "index"), bench=True),
    QuerySpec("knn_sq8", q_knn_sq8, KNN_SQ8_SQL,
              ("llm", "similarity", "index"), bench=True),
    QuerySpec("knn_ivf_sq8", q_knn_ivf_sq8, KNN_IVF_SQ8_SQL,
              ("llm", "similarity", "index")),
    QuerySpec("knn_ivf_sq8_indexed", q_ivfsq8_topk_indexed,
              KNN_IVF_SQ8_SQL, ("llm", "similarity", "index")),
    QuerySpec("ivf_cell_histogram", q_ivf_cell_histogram,
              IVF_CELL_HISTOGRAM_SQL,
              ("llm", "similarity", "report")),
    QuerySpec("knn_ivf_sq8_incremental", q_ivfsq8_topk_incremental,
              KNN_IVF_SQ8_SQL,
              ("llm", "similarity", "index", "merge")),
    QuerySpec("sq8_reconstruction_report", q_sq8_reconstruction_report,
              SQ8_REPORT_SQL, ("llm", "similarity", "index")),
    QuerySpec("kmeanspp_seeds", q_kmeanspp_seeds, _kpp_oracle(KPP_K),
              ("llm", "similarity", "iterative")),
    QuerySpec("knn_ivf_indexed", q_ivf_topk_indexed, KNN_IVF_SQL,
              ("llm", "similarity", "index"), bench=True),
    QuerySpec("knn_ivf_incremental", q_ivf_topk_incremental,
              KNN_IVF_SQL, ("llm", "similarity", "index", "merge")),
    QuerySpec("knn_ivf_compacted", q_ivf_topk_compacted,
              KNN_IVF_SQL, ("llm", "similarity", "index", "merge")),
    QuerySpec("knn_ivf_deleted", q_ivf_topk_deleted,
              KNN_IVF_DELETED_SQL,
              ("llm", "similarity", "index", "merge")),
    QuerySpec("knn_ivf_delete_compacted", q_ivf_topk_delete_compacted,
              KNN_IVF_DELETED_SQL,
              ("llm", "similarity", "index", "merge")),
    QuerySpec("knn_ivf", q_ivf_topk, KNN_IVF_SQL,
              ("llm", "similarity"), bench=True),
    QuerySpec("knn_mmr", q_knn_mmr, KNN_MMR_SQL,
              ("llm", "similarity", "topk"), bench=True),
    QuerySpec("knn_ivf_filtered", q_knn_ivf_filtered,
              KNN_IVF_FILTERED_SQL,
              ("llm", "similarity", "join", "topk")),
    QuerySpec("knn_ivf_filtered_indexed", q_knn_ivf_filtered_indexed,
              KNN_IVF_FILTERED_SQL,
              ("llm", "similarity", "join", "topk", "index"),
              bench=True),
    QuerySpec("doc_embedding_join", q_doc_embedding_join,
              DOC_EMBEDDING_JOIN_SQL, ("llm", "multimodal", "join")),
    QuerySpec("near_dup_embeddings", q_near_dup_exact, NEAR_DUP_EXACT_SQL,
              ("llm", "dedup", "similarity")),
    QuerySpec("near_dup_embeddings_lsh", q_near_dup_lsh, NEAR_DUP_LSH_SQL,
              ("llm", "dedup", "similarity"), bench=True),
    QuerySpec("near_dup_edges_lsh", q_near_dup_edges_lsh,
              _near_dup_edges_sql,
              ("llm", "dedup", "similarity")),
    QuerySpec("semantic_dedup_pairs", q_semantic_dedup,
              SEMANTIC_DEDUP_SQL, ("llm", "dedup", "similarity")),
    QuerySpec("semantic_dedup_edges", q_semantic_dedup_edges,
              SEMANTIC_DEDUP_EDGES_SQL,
              ("llm", "dedup", "similarity")),
    QuerySpec("gopher_ngram_filters", q_gopher_ngram_filters,
              GOPHER_NGRAM_SQL, ("llm", "text", "curation")),
    QuerySpec("text_stats", q_text_stats, TEXT_STATS_SQL,
              ("llm", "text"), bench=True),
    QuerySpec("lang_id", q_lang_id, LANG_ID_SQL, ("llm", "text")),
    QuerySpec("lang_id_ngram", q_lang_id_ngram, LANG_ID_NGRAM_SQL,
              ("llm", "text")),
    QuerySpec("lang_id_profiles", q_lang_id_profiles,
              LANG_ID_PROFILES_SQL, ("llm", "text")),
    QuerySpec("media_resize", q_media_resize, MEDIA_RESIZE_SQL,
              ("llm", "multimodal")),
    QuerySpec("token_counts", q_token_counts, TOKEN_COUNTS_SQL,
              ("llm", "text")),
    QuerySpec("pandas_token_counts", q_pandas_token_counts,
              PANDAS_TOKEN_COUNTS_SQL, ("llm", "text", "pandas_udf")),
    QuerySpec("containment_pairs", q_containment_pairs,
              CONTAINMENT_PAIRS_SQL, ("llm", "dedup")),
    QuerySpec("dedup_report", q_dedup_report, DEDUP_REPORT_SQL,
              ("llm", "dedup", "profiling")),
    QuerySpec("decontaminate_eval", q_decontaminate_eval,
              DECONTAMINATE_SQL, ("llm", "dedup", "quality")),
    QuerySpec("unigram_surprisal", q_unigram_surprisal,
              UNIGRAM_SURPRISAL_SQL, ("llm", "text", "quality")),
    QuerySpec("gopher_repetition", q_gopher_repetition,
              GOPHER_REPETITION_SQL, ("llm", "text", "quality")),
    QuerySpec("bpe_pair_counts", q_bpe_pair_counts, BPE_PAIR_SQL,
              ("llm", "text", "topk")),
    QuerySpec("boilerplate_flags", q_boilerplate_flags, BOILERPLATE_SQL,
              ("llm", "text", "quality", "dedup")),
    QuerySpec("boilerplate_flags_relative",
              q_boilerplate_flags_relative, BOILERPLATE_REL_SQL,
              ("llm", "text", "quality", "dedup")),
    QuerySpec("lang_confusion_matrix", q_lang_confusion,
              LANG_CONFUSION_SQL, ("llm", "text", "quality")),
    QuerySpec("corpus_bigrams", q_corpus_bigrams, CORPUS_BIGRAMS_SQL,
              ("llm", "text")),
    QuerySpec("doc_fingerprints", q_doc_fingerprints, DOC_FINGERPRINTS_SQL,
              ("llm", "text")),
    QuerySpec("multimodal_bytes", q_multimodal_bytes, MULTIMODAL_BYTES_SQL,
              ("llm", "multimodal")),
    QuerySpec("media_ppm_features", q_media_ppm_features,
              MEDIA_PPM_FEATURES_SQL, ("llm", "multimodal")),
    QuerySpec("media_ppm_stats", q_media_ppm_stats, MEDIA_PPM_STATS_SQL,
              ("llm", "multimodal")),
    QuerySpec("media_phash_dupes", q_media_phash_dupes, MEDIA_PHASH_SQL,
              ("llm", "multimodal", "dedup"), bench=True),
    QuerySpec("media_wav_stats", q_media_wav_stats, MEDIA_WAV_STATS_SQL,
              ("llm", "multimodal")),
    QuerySpec("media_quarantine", q_media_quarantine,
              MEDIA_QUARANTINE_SQL, ("llm", "multimodal")),
    QuerySpec("media_video_stats", q_media_video_stats,
              MEDIA_VIDEO_STATS_SQL, ("llm", "multimodal")),
    QuerySpec("media_frame_sample", q_media_frames, MEDIA_FRAMES_SQL,
              ("llm", "multimodal")),
    QuerySpec("media_features", q_media_features,
              _media_features_oracle, ("llm", "multimodal")),
]


# ------------------------------------------------------ IVF-PQ ANN


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full FAISS-style IVFx,PQy retrieval: coarse cells + product
    quantization of the residuals + per-cell ADC lookup tables +
    exact re-rank (operators/similarity.py ivfpq_topk)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb,
        KNN_QUERY_VEC_ID,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        n_sub=PQ_SUB,
        sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CODES,
        shortlist=PQ_SHORTLIST,
        k=KNN_K,
    )


_IVFPQ_RESID_E = (
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(ce.cvec[i] AS DOUBLE))"
)
_IVFPQ_RESID_B = (
    "(CAST(b.embedding[i] AS DOUBLE) - CAST(cb.cvec[i] AS DOUBLE))"
)

_IVFPQ_ENC_L2 = _sub_fold_sql(
    f"({_IVFPQ_RESID_E} - {_IVFPQ_RESID_B}) "
    f"* ({_IVFPQ_RESID_E} - {_IVFPQ_RESID_B})",
    f"s.sub * {PQ_SUB_DIM} + 1",
    f"s.sub * {PQ_SUB_DIM} + {PQ_SUB_DIM} + 1",
)

_IVFPQ_LUT_DOT_B = _sub_fold_sql(
    f"{_IVFPQ_RESID_B} "
    "* (CAST(p.qv[i] AS DOUBLE) - CAST(p.cvec[i] AS DOUBLE))",
    f"s.sub * {PQ_SUB_DIM} + 1",
    f"s.sub * {PQ_SUB_DIM} + {PQ_SUB_DIM} + 1",
)

_IVFPQ_LUT_DOT = _sub_fold_sql(
    f"{_IVFPQ_RESID_B} "
    "* (CAST(q.qv[i] AS DOUBLE) - CAST(p.cvec[i] AS DOUBLE))",
    f"s.sub * {PQ_SUB_DIM} + 1",
    f"s.sub * {PQ_SUB_DIM} + {PQ_SUB_DIM} + 1",
)

def q_knn_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-PQ (similarity.py ivfpq_topk_batch): the whole
    probe set against one query-independent coarse+PQ compression —
    completes the batch matrix (exact / IVF / PQ / IVF-PQ)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk_batch(
        emb,
        BATCH_QUERY_IDS_LLM,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        n_sub=PQ_SUB,
        sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CODES,
        shortlist=PQ_SHORTLIST,
        k=BATCH_K_LLM,
    ).orderBy("q_id", "vec_id")


# mirror pipeline_queries' probe-batch constants (import would be
# circular: pipeline_queries imports from this module)
BATCH_QUERY_IDS_LLM = [0, 1, 2, 3]
BATCH_K_LLM = 5
_IDS_LLM = ", ".join(str(i) for i in BATCH_QUERY_IDS_LLM)

KNN_IVFPQ_BATCH_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
      WHERE vec_id IN ({_IDS_LLM})),
cb_src AS (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY vec_id LIMIT {PQ_CODES}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
),
enc AS (
    SELECT vec_id, sub, code FROM (
        SELECT e.vec_id, s.sub, b.vec_id AS code,
               row_number() OVER (
                   PARTITION BY e.vec_id, s.sub
                   ORDER BY round({_IVFPQ_ENC_L2}, 6), b.vec_id)
                   AS rn
        FROM embeddings e
        JOIN assigned ae ON ae.vec_id = e.vec_id
        JOIN cents ce ON ce.cell_id = ae.cell_id
        CROSS JOIN cb_src b
        JOIN assigned ab ON ab.vec_id = b.vec_id
        JOIN cents cb ON cb.cell_id = ab.cell_id
        CROSS JOIN (SELECT unnest(range(0, {PQ_SUB})) AS sub) s
    ) WHERE rn = 1
),
probe AS (
    SELECT q_id, cell_id, cvec, qv FROM (
        SELECT q.q_id, c.cell_id, c.cvec, q.qv,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY round({_l2_sql('c.cvec', 'q.qv')}, 6),
                            c.cell_id) AS rn
        FROM cents c, q
    ) WHERE rn <= {IVF_PROBE}
),
lut AS (
    SELECT p.q_id, p.cell_id, s.sub, b.vec_id AS code_id,
           CAST(round({_IVFPQ_LUT_DOT_B}, 6) AS DECIMAL(18,6)) AS pd
    FROM probe p
    CROSS JOIN (SELECT unnest(range(0, {PQ_SUB})) AS sub) s
    CROSS JOIN cb_src b
    JOIN assigned ab ON ab.vec_id = b.vec_id
    JOIN cents cb ON cb.cell_id = ab.cell_id
),
short AS (
    SELECT q_id, vec_id FROM (
        SELECT l.q_id, enc.vec_id,
               row_number() OVER (
                   PARTITION BY l.q_id
                   ORDER BY sum(l.pd) DESC, enc.vec_id) AS rn
        FROM enc
        JOIN assigned a ON a.vec_id = enc.vec_id
        JOIN lut l ON l.cell_id = a.cell_id AND l.sub = enc.sub
                  AND l.code_id = enc.code
        WHERE enc.vec_id <> l.q_id
        GROUP BY l.q_id, enc.vec_id
    ) WHERE rn <= {PQ_SHORTLIST}
)
SELECT q_id, vec_id, cos_sim FROM (
    SELECT s.q_id, e.vec_id,
           round({_dot_sql('e.embedding', 'q.qv')}
                 / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                    * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim,
           row_number() OVER (
               PARTITION BY s.q_id
               ORDER BY round({_dot_sql('e.embedding', 'q.qv')}
                     / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                        * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) DESC,
                        e.vec_id ASC) AS rn
    FROM embeddings e
    JOIN short s ON s.vec_id = e.vec_id
    JOIN q ON q.q_id = s.q_id
    WHERE {_NRM_E} AND {_NRM_Q}
) WHERE rn <= {BATCH_K_LLM}
ORDER BY q_id, vec_id
"""

KNN_IVFPQ_SQL = f"""
WITH cents AS (
    SELECT vec_id AS cell_id, embedding AS cvec FROM embeddings
    ORDER BY vec_id LIMIT {IVF_CELLS}
),
q AS (SELECT embedding AS qv FROM embeddings
      WHERE vec_id = {KNN_QUERY_VEC_ID}),
cb_src AS (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY vec_id LIMIT {PQ_CODES}
),
assigned AS (
    SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_l2_sql('e.embedding', 'c.cvec')}, 6),
                            c.cell_id) AS rn
        FROM embeddings e, cents c
    ) WHERE rn = 1
),
enc AS (
    SELECT vec_id, sub, code FROM (
        SELECT e.vec_id, s.sub, b.vec_id AS code,
               row_number() OVER (
                   PARTITION BY e.vec_id, s.sub
                   ORDER BY round({_IVFPQ_ENC_L2}, 6), b.vec_id)
                   AS rn
        FROM embeddings e
        JOIN assigned ae ON ae.vec_id = e.vec_id
        JOIN cents ce ON ce.cell_id = ae.cell_id
        CROSS JOIN cb_src b
        JOIN assigned ab ON ab.vec_id = b.vec_id
        JOIN cents cb ON cb.cell_id = ab.cell_id
        CROSS JOIN (SELECT unnest(range(0, {PQ_SUB})) AS sub) s
    ) WHERE rn = 1
),
probe AS (
    SELECT cell_id, cvec FROM (
        SELECT c.cell_id, c.cvec,
               round({_l2_sql('c.cvec', 'q.qv')}, 6) AS d
        FROM cents c, q
        ORDER BY d, cell_id LIMIT {IVF_PROBE}
    )
),
lut AS (
    SELECT p.cell_id, s.sub, b.vec_id AS code_id,
           CAST(round({_IVFPQ_LUT_DOT}, 6) AS DECIMAL(18,6)) AS pd
    FROM probe p
    CROSS JOIN q
    CROSS JOIN (SELECT unnest(range(0, {PQ_SUB})) AS sub) s
    CROSS JOIN cb_src b
    JOIN assigned ab ON ab.vec_id = b.vec_id
    JOIN cents cb ON cb.cell_id = ab.cell_id
),
short AS (
    SELECT enc.vec_id
    FROM enc
    JOIN assigned a ON a.vec_id = enc.vec_id
    JOIN lut l ON l.cell_id = a.cell_id AND l.sub = enc.sub
              AND l.code_id = enc.code
    WHERE enc.vec_id <> {KNN_QUERY_VEC_ID}
    GROUP BY enc.vec_id
    ORDER BY sum(l.pd) DESC, enc.vec_id
    LIMIT {PQ_SHORTLIST}
)
SELECT e.vec_id,
       round({_dot_sql('e.embedding', 'q.qv')}
             / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                * sqrt({_dot_sql('q.qv', 'q.qv')})), 6) AS cos_sim
FROM embeddings e JOIN short USING (vec_id), q
WHERE {_NRM_E} AND {_NRM_Q}
ORDER BY cos_sim DESC, e.vec_id
LIMIT {KNN_K}
"""

SPECS.append(
    QuerySpec(
        "knn_ivfpq",
        q_knn_ivfpq,
        KNN_IVFPQ_SQL,
        ("llm", "similarity", "index"),
        bench=True,
    )
)


_IVFPQ_INDEX_CACHE: dict[tuple, str] = {}


def q_knn_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k over a MATERIALIZED index (operators/similarity.py
    ``build_ivfpq_index``): coarse centroids, residual codebooks and
    the cell_id-partitioned codes table are trained and written once;
    a query is then probe selection + broadcast ADC LUTs + a
    partition-pruned codes scan + shortlist re-rank — the true
    query-time cost of the FAISS IVFx,PQy split, next to
    ``knn_ivfpq`` which re-trains inline per call. Same training
    pipeline and scoring, hence the same oracle."""
    import atexit
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVFPQ_INDEX_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="elephant_ivfpq_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivfpq_index(
            emb, path, n_cells=IVF_CELLS, n_sub=PQ_SUB,
            sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
        )
        _IVFPQ_INDEX_CACHE[key] = path
    return similarity.ivfpq_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, source=emb,
        n_probe=IVF_PROBE, shortlist=PQ_SHORTLIST, k=KNN_K,
    )


SPECS.append(
    QuerySpec(
        "knn_ivfpq_indexed",
        q_knn_ivfpq_indexed,
        KNN_IVFPQ_SQL,
        ("llm", "similarity", "index"),
        bench=True,
    )
)


_IVFPQ_INC_CACHE: dict[tuple, str] = {}


def q_knn_ivfpq_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ day-2 maintenance under the oracle gate
    (operators/similarity.py ``update_ivfpq_index`` — FAISS
    ``IndexIVFPQ.add()``): the index is trained on vectors with id <
    400 only; the rest arrive as a delta assigned to the FROZEN
    coarse centroids and PQ-encoded against the FROZEN residual
    codebooks, appended to the cell-partitioned codes. Append-only
    id growth keeps both seed sets in the base batch, so the
    updated layout answers queries exactly like a full build —
    hence the shared ``knn_ivfpq`` oracle: a wrong frozen-geometry
    residual, a stale codebook, or a lost delta code
    hash-mismatches."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings")
    key = _ann_cache_key(sf_dir)
    path = _IVFPQ_INC_CACHE.get(key)
    if path is None:
        base = emb.filter(F.col("vec_id") < IVF_INC_SPLIT)
        delta = emb.filter(F.col("vec_id") >= IVF_INC_SPLIT)
        path = tempfile.mkdtemp(prefix="elephant_ivfpq_inc_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.build_ivfpq_index(
            base, path, n_cells=IVF_CELLS, n_sub=PQ_SUB,
            sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
        )
        similarity.update_ivfpq_index(spark, path, delta)
        _IVFPQ_INC_CACHE[key] = path
    return similarity.ivfpq_topk_indexed(
        spark, path, KNN_QUERY_VEC_ID, source=emb,
        n_probe=IVF_PROBE, shortlist=PQ_SHORTLIST, k=KNN_K,
    )


SPECS.append(
    QuerySpec(
        "knn_ivfpq_incremental",
        q_knn_ivfpq_incremental,
        KNN_IVFPQ_SQL,
        ("llm", "similarity", "index", "merge"),
    )
)


# --------------------------------------------------- PMI co-occurrence

PMI_MIN_CO = 5
PMI_TOP = 50


def q_related_terms_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-expansion co-occurrence mining: top word pairs by
    pointwise mutual information over document-level co-occurrence
    — the statistical thesaurus a search stack feeds from.

    ``pmi = ln N + ln c_ab − ln c_a − ln c_b`` (ln on integers, so
    no product overflow however large the corpus; fixed addition
    order keeps the double bit-identical cross-engine). The pair
    fan-out is a per-doc self-join over DISTINCT tokens — quadratic
    only in per-document vocabulary (bounded by doc length), never
    corpus-sized. The word-frequency tables join back UNHINTED
    (vocabulary-sized = Heaps-growing; a forced broadcast hint
    fails, not degrades, past Spark's 8 GB cap — AQE converts small
    builds at runtime); only the 1-row N keeps a hint. Pairs below
    ``PMI_MIN_CO`` co-occurrences drop before the join back."""
    from pyspark.sql import functions as F

    from bigdata_elephant_spark.functions.text import tokens_array

    docs = _docs(spark, sf_dir)
    dt = docs.select(
        "doc_id", F.explode(tokens_array("text")).alias("w")
    ).distinct()
    cw = dt.groupBy("w").agg(F.count("*").alias("c"))
    n = dt.agg(F.countDistinct("doc_id").alias("n"))
    a = dt.select("doc_id", F.col("w").alias("wa"))
    b = dt.select("doc_id", F.col("w").alias("wb"))
    pc = (
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_CO)
    )
    ca = cw.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    cb = cw.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    return (
        pc.join(ca, "wa")
        .join(cb, "wb")
        .crossJoin(F.broadcast(n))
        .select(
            "wa",
            "wb",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log("n") + F.log("c_ab")
                - F.log("ca") - F.log("cb"),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("wa"), F.asc("wb"))
        .limit(PMI_TOP)
    )


RELATED_TERMS_SQL = f"""
WITH {DOC_TOKS_CTE},
dt AS (SELECT DISTINCT doc_id, unnest(toks) AS w FROM doc_toks),
cw AS (SELECT w, count(*) AS c FROM dt GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
pc AS (
    SELECT a.w AS wa, b.w AS wb, count(*) AS c_ab
    FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
    GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_CO}
)
SELECT pc.wa, pc.wb, CAST(pc.c_ab AS BIGINT) AS c_ab,
       round(ln(n.n) + ln(pc.c_ab) - ln(ca.c) - ln(cb.c), 6)
           AS pmi
FROM pc
JOIN cw ca ON ca.w = pc.wa
JOIN cw cb ON cb.w = pc.wb
CROSS JOIN n
ORDER BY pmi DESC, wa, wb
LIMIT {PMI_TOP}
"""

SPECS.append(
    QuerySpec(
        "related_terms_pmi",
        q_related_terms_pmi,
        RELATED_TERMS_SQL,
        ("llm", "text", "search"),
    )
)


# -------------------------------------------------- audio RMS windows

WAV_RMS_WINDOW = 50


def q_media_wav_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio loudness under the oracle gate: synthesize
    valid WAV payloads (closed-form samples), REALLY decode them,
    and compute per-window RMS (multimodal.py wav_window_rms); the
    oracle recomputes every window from the sample formula."""
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_wav_payloads(docs)
    return multimodal.wav_window_rms(
        payloads, window=WAV_RMS_WINDOW
    ).orderBy("doc_id", "win_idx")


MEDIA_WAV_RMS_SQL = f"""
WITH dims AS (
    SELECT doc_id, doc_id % 500 + 100 AS n FROM documents
),
samples AS (
    SELECT d.doc_id, t.i,
           (d.doc_id * 37 + t.i * 11) % 4096 - 2048 AS s
    FROM dims d, unnest(range(0, d.n)) AS t(i)
),
win AS (
    SELECT doc_id, i // {WAV_RMS_WINDOW} AS win_idx,
           count(*) AS n_in_win, sum(s * s) AS ss
    FROM samples GROUP BY 1, 2
)
SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
       CAST(n_in_win AS BIGINT) AS n_in_win,
       round(sqrt(CAST(ss AS DOUBLE) / n_in_win), 6) AS rms
FROM win
ORDER BY doc_id, win_idx
"""

SPECS.append(
    QuerySpec(
        "media_wav_rms",
        q_media_wav_rms,
        MEDIA_WAV_RMS_SQL,
        ("llm", "multimodal"),
    )
)


# -------------------------------------------------- video scene cuts

SCENE_CUT_THRESHOLD = 30.0


def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection under the oracle gate: synthesize valid
    multi-frame clips (closed-form pixels), REALLY demux them, and
    flag mean-intensity jumps (multimodal.py video_scene_cuts); the
    oracle recomputes every frame mean from the pixel formula and
    the deltas with a lag window."""
    from bigdata_elephant_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")
    payloads = multimodal.synth_video_payloads(docs)
    return multimodal.video_scene_cuts(
        payloads, threshold=SCENE_CUT_THRESHOLD
    ).orderBy("doc_id", "frame_idx")


MEDIA_SCENE_CUTS_SQL = f"""
WITH frames AS (
    SELECT doc_id, f.fi,
           (f.fi % 8 + 4) * (f.fi % 4 + 4) * 3 AS n,
           doc_id * 131 + f.fi * 17 AS seed
    FROM documents, unnest(range(0, doc_id % 4 + 2)) AS f(fi)
),
px AS (
    SELECT doc_id, fi, n,
           (seed * 31 + t.p * 7) % 256 AS v
    FROM frames, unnest(range(0, n)) AS t(p)
),
means AS (
    SELECT doc_id, fi,
           round(CAST(sum(v) AS DOUBLE) / n, 6) AS mean_px
    FROM px GROUP BY doc_id, fi, n
),
deltas AS (
    SELECT doc_id, fi AS frame_idx, mean_px,
           round(abs(mean_px - lag(mean_px) OVER (
               PARTITION BY doc_id ORDER BY fi)), 6) AS delta
    FROM means
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, mean_px,
       delta, (delta > {SCENE_CUT_THRESHOLD}) AS is_cut
FROM deltas
WHERE delta IS NOT NULL
ORDER BY doc_id, frame_idx
"""

SPECS.append(
    QuerySpec(
        "media_scene_cuts",
        q_media_scene_cuts,
        MEDIA_SCENE_CUTS_SQL,
        ("llm", "multimodal", "window"),
    )
)


# -------------------------------------------------- Zipf fit


def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-linguistics diagnostic: OLS fit of ln(frequency) on
    ln(rank) over the word-frequency table (Zipf's law predicts a
    slope near −1; a flat slope flags synthetic/templated text, a
    cliff flags boilerplate). The rank window runs over the
    VOCABULARY table (bounded, same single-partition tradeoff as
    dense word-id assignment, with the distributed two-phase variant
    available in vocab.py); the fit uses the repo's exact-decimal
    sum discipline, one double expression per output row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.functions.text import tokens_array

    words = _docs(spark, sf_dir).select(
        F.explode(tokens_array("text")).alias("w")
    )
    freqs = words.groupBy("w").agg(F.count("*").alias("c"))
    w_rank = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    xy = freqs.select(
        F.round(F.log(F.row_number().over(w_rank)), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log("c"), 6).cast("decimal(18,6)").alias("y"),
    )
    sums = xy.agg(
        F.count("*").alias("n_words"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_words")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    return sums.select(
        n.cast("long").alias("n_words"),
        slope.alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


VOCAB_ZIPF_SQL = f"""
WITH {DOC_TOKS_CTE},
words AS (SELECT unnest(toks) AS w FROM doc_toks),
freqs AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
xy AS (
    SELECT CAST(round(ln(row_number() OVER (ORDER BY c DESC,
                                            w ASC)), 6)
                AS DECIMAL(18,6)) AS x,
           CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y
    FROM freqs
),
sums AS (
    SELECT count(*) AS n_words, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM xy
)
SELECT CAST(n_words AS BIGINT) AS n_words,
       round((n_words * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n_words * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - round((n_words * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (n_words * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)
                           * CAST(sx AS DOUBLE)), 6)
                * CAST(sx AS DOUBLE)) / n_words, 6) AS intercept
FROM sums
"""

SPECS.append(
    QuerySpec(
        "vocab_zipf_fit",
        q_vocab_zipf_fit,
        VOCAB_ZIPF_SQL,
        ("llm", "text", "agg"),
    )
)


# -------------------------------------------------- Heaps fit


def q_vocab_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary size V as a function of tokens
    seen T, measured at every document boundary in doc_id order and
    fitted as ln V = β·ln T + c (β ≈ 0.4-0.6 for natural text; β
    near 1 means near-disjoint vocabularies — shard contamination).

    Scalable construction — no per-document re-scan: each word
    contributes at its FIRST document (min doc_id), so V(d) is a
    running count over the min-doc frequency table and T(d) a
    running sum over per-doc token counts — two bounded value-table
    windows, one join on doc_id, then the repo's exact-decimal OLS.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from bigdata_elephant_spark.functions.text import tokens_array

    words = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_array("text")).alias("w")
    )
    first_doc = words.groupBy("w").agg(
        F.min("doc_id").alias("d0")
    )
    new_per_doc = first_doc.groupBy("d0").agg(
        F.count("*").alias("nv")
    )
    toks_per_doc = words.groupBy("doc_id").agg(
        F.count("*").alias("nt")
    )
    w_v = Window.orderBy("d0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = new_per_doc.select(
        F.col("d0").alias("doc_id"),
        F.sum("nv").over(w_v).alias("v_at"),
    )
    w_t = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = toks_per_doc.select(
        "doc_id", F.sum("nt").over(w_t).alias("t_at")
    )
    # V only changes at docs introducing new words; carry it forward
    # to every doc boundary via a last-value window over the join
    merged = t.join(v, "doc_id", "left").select(
        "doc_id",
        "t_at",
        F.last("v_at", ignorenulls=True)
        .over(
            Window.orderBy("doc_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("v_at"),
    ).filter(F.col("v_at").isNotNull() & (F.col("t_at") > 0))
    xy = merged.select(
        F.round(F.log("t_at"), 6).cast("decimal(18,6)").alias("x"),
        F.round(F.log("v_at"), 6).cast("decimal(18,6)").alias("y"),
    )
    sums = xy.agg(
        F.count("*").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_points")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    beta = F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    return sums.select(
        n.cast("long").alias("n_points"),
        beta.alias("heaps_beta"),
        F.round((sy - beta * sx) / n, 6).alias("intercept"),
    )


VOCAB_HEAPS_SQL = f"""
WITH {DOC_TOKS_CTE},
words AS (
    SELECT doc_id, unnest(toks) AS w FROM doc_toks
),
first_doc AS (SELECT w, min(doc_id) AS d0 FROM words GROUP BY 1),
new_per_doc AS (SELECT d0, count(*) AS nv FROM first_doc GROUP BY 1),
toks_per_doc AS (
    SELECT doc_id, count(*) AS nt FROM words GROUP BY 1
),
v AS (
    SELECT d0 AS doc_id,
           sum(nv) OVER (ORDER BY d0
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS v_at
    FROM new_per_doc
),
t AS (
    SELECT doc_id,
           sum(nt) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS t_at
    FROM toks_per_doc
),
merged AS (
    SELECT t.doc_id, t.t_at,
           last_value(v.v_at IGNORE NULLS) OVER (
               ORDER BY t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_at
    FROM t LEFT JOIN v USING (doc_id)
),
xy AS (
    SELECT CAST(round(ln(t_at), 6) AS DECIMAL(18,6)) AS x,
           CAST(round(ln(v_at), 6) AS DECIMAL(18,6)) AS y
    FROM merged WHERE v_at IS NOT NULL AND t_at > 0
),
sums AS (
    SELECT count(*) AS n_points, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM xy
)
SELECT CAST(n_points AS BIGINT) AS n_points,
       round((n_points * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n_points * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS heaps_beta,
       round((CAST(sy AS DOUBLE)
              - round((n_points * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (n_points * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)
                           * CAST(sx AS DOUBLE)), 6)
                * CAST(sx AS DOUBLE)) / n_points, 6) AS intercept
FROM sums
"""

SPECS.append(
    QuerySpec(
        "vocab_heaps_fit",
        q_vocab_heaps_fit,
        VOCAB_HEAPS_SQL,
        ("llm", "text", "agg"),
    )
)

SPECS.append(
    QuerySpec(
        "knn_ivfpq_batch",
        q_knn_ivfpq_batch,
        KNN_IVFPQ_BATCH_SQL,
        ("llm", "similarity", "index"),
    )
)
