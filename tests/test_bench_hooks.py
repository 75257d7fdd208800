"""The entry points the benchmark's traced mode wraps
(``searchbench.tracer.install``) must exist and stay on the timed path:
a removed or renamed one fails here, not only in a traced run."""

from __future__ import annotations

import io

from bigdata_elephant_spark.cli import main
from bigdata_elephant_spark.operators import similarity
from searchbench import tracer


def test_tracer_entry_points_resolve(monkeypatch):
    """Every ``owner.attr`` the tracer wraps resolves."""
    seen = []
    monkeypatch.setattr(
        tracer, "_wrap",
        lambda _t, owner, attr, *a, **kw: seen.append(getattr(owner, attr)),
    )
    tracer.install(None)
    assert len(seen) == 12


def test_ann_query_enters_through_ivf_topk_indexed(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The ``similarity.plan`` span wraps ``ivf_topk_indexed``, so a
    plain-IVF ``ann-query --vec`` must call it exactly once."""
    idx = str(tmp_path / "ivf")
    emb_path = f"{sf_dir}/embeddings.parquet"
    assert main(["ann-build", "--embeddings", emb_path, "--out", idx,
                 "--cells", "8"], spark=spark, out=io.StringIO()) == 0
    row = spark.read.parquet(emb_path).filter("vec_id = 5").first()
    vec = ",".join(repr(float(x)) for x in row["embedding"])
    calls = []
    orig = similarity.ivf_topk_indexed

    def counted(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_topk_indexed", counted)
    out = io.StringIO()
    assert main(["ann-query", "--index", idx, f"--vec={vec}", "-k", "3"],
                spark=spark, out=out) == 0
    assert len(calls) == 1
    assert out.getvalue().splitlines()[1].startswith("5\t")
