"""Fast coverage of the two corpus ingests' flat zone layout
(``streaming/corpus.py::incremental_corpus_ingest`` and
``streaming/embeddings.py::incremental_embedding_ingest``): one parquet file
per micro-batch per zone, cross-batch near-duplicate rejection, idempotent
re-delivery, the id-range pruned corpus read, and the refusal of zones in
the older hash-bucketed layout. The heavier index-maintenance integration
tests live in the full tier (test_streaming.py, test_embedding_maintenance.py,
test_scale.py)."""

from __future__ import annotations

import json
import os
import random

import pytest

from aws_data_pipeline_spark.sources.parquet import pruned_zone_ids
from aws_data_pipeline_spark.streaming.corpus import (
    forget_documents,
    incremental_corpus_ingest,
)
from aws_data_pipeline_spark.streaming.embeddings import (
    forget_vectors,
    incremental_embedding_ingest,
)

VEC_DDL = "vec_id long, embedding array<float>"


def _data_files(path) -> list[str]:
    """Committed parquet data files under ``path`` (any depth), ignoring
    ``_``/``.``-prefixed metadata and staging entries."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [f for f in files if f.endswith(".parquet") and f[0] not in "_."]
    return out


def _pushed_bounds(df, col: str, lo: int, hi: int) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: ", 1)[1].split("]", 1)[0]
    return (
        f"GreaterThanOrEqual({col},{lo})" in pushed
        and f"LessThanOrEqual({col},{hi})" in pushed
    )


def _doc(i: int, text: str | None = None) -> dict:
    text = text or " ".join(f"w{i}t{j}" for j in range(40))
    return {"doc_id": i, "text": text, "lang": "en", "source": "a"}


def test_corpus_ingest_appends_one_flat_file_per_batch(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ck")

    # 100 ids: more than the 64 hash buckets the older layout fanned out to
    (inbox / "b1.jsonl").write_text(
        "\n".join(json.dumps(_doc(i)) for i in range(100))
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    assert len(_data_files(corpus)) == 1
    # batch 2 carries a near-duplicate (doc 150) of batch 1's doc 5
    near = _doc(5)["text"] + " extra"
    (inbox / "b2.jsonl").write_text(
        "\n".join(
            json.dumps(_doc(i, near if i == 150 else None))
            for i in range(100, 200)
        )
    )
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt)
    assert len(_data_files(corpus)) == 2
    want = set(range(200)) - {150}
    got = [r.doc_id for r in spark.read.parquet(corpus).collect()]
    assert sorted(got) == sorted(want)

    # lost checkpoint: both files re-deliver and no row is added
    incremental_corpus_ingest(spark, str(inbox), corpus, index, ckpt + "2")
    assert spark.read.parquet(corpus).count() == len(want)
    assert len(_data_files(corpus)) == 2

    # the corpus id read carries the batch's id bounds down to the scan
    batch = spark.createDataFrame(
        [(i, "x") for i in range(100, 200)], "doc_id long, text string"
    )
    ids = pruned_zone_ids(spark, corpus, batch, "doc_id")
    assert _pushed_bounds(ids, "doc_id", 100, 199)
    assert {r.doc_id for r in ids.collect()} == want & set(range(100, 200))


def test_embedding_ingest_appends_one_flat_file_per_batch(spark, tmp_path):
    rng = random.Random(7)
    vecs = {i: [rng.gauss(0, 1) for _ in range(64)] for i in range(200)}
    # vector 150 becomes a near-copy of vector 5 (cosine ~ 1)
    vecs[150] = [x + 1e-3 for x in vecs[5]]
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "vcorpus")
    index = str(tmp_path / "vindex")
    ckpt = str(tmp_path / "ck")

    for b, ids in (("b1", range(100)), ("b2", range(100, 200))):
        spark.createDataFrame(
            [(i, vecs[i]) for i in ids], VEC_DDL
        ).coalesce(1).write.parquet(str(inbox / b))
        incremental_embedding_ingest(spark, str(inbox), corpus, index, ckpt)
        assert len(_data_files(corpus)) == (1 if b == "b1" else 2)
    want = set(range(200)) - {150}
    got = [r.vec_id for r in spark.read.parquet(corpus).collect()]
    assert sorted(got) == sorted(want)

    # lost checkpoint AND a fresh index: the corpus anti-join is the only
    # guard left, and it must keep the zone unchanged
    incremental_embedding_ingest(
        spark, str(inbox), corpus, str(tmp_path / "vindex2"), ckpt + "2"
    )
    assert spark.read.parquet(corpus).count() == len(want)
    assert len(_data_files(corpus)) == 2

    batch = spark.createDataFrame(
        [(i, vecs[i]) for i in range(100, 200)], VEC_DDL
    )
    ids = pruned_zone_ids(spark, corpus, batch, "vec_id")
    assert _pushed_bounds(ids, "vec_id", 100, 199)
    assert {r.vec_id for r in ids.collect()} == want & set(range(100, 200))


def test_bucketed_corpus_zone_is_refused(spark, tmp_path):
    """A zone carrying the older layout's ``_buckets`` marker is refused
    before any write: partition discovery would hide flat files appended
    beside its ``bucket=`` directories."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "b1.jsonl").write_text(json.dumps(_doc(1)))
    corpus = tmp_path / "corpus"
    (corpus / "_buckets").mkdir(parents=True)
    (corpus / "_buckets" / "8").touch()
    spark.createDataFrame([(1, "x")], "doc_id long, text string").write.parquet(
        str(corpus / "bucket=1")
    )

    def tree():
        return sorted(
            os.path.join(r, f) for r, _, fs in os.walk(corpus) for f in fs
        )

    before = tree()
    ids = spark.createDataFrame([(1,)], "id long")

    calls = [
        lambda: incremental_corpus_ingest(
            spark, str(inbox), str(corpus), str(tmp_path / "index"),
            str(tmp_path / "ck"),
        ),
        lambda: incremental_embedding_ingest(
            spark, str(inbox), str(corpus), str(tmp_path / "index"),
            str(tmp_path / "ck"),
        ),
        lambda: forget_documents(spark, ids, corpus_path=str(corpus), id_col="id"),
        lambda: forget_vectors(spark, ids, corpus_path=str(corpus), id_col="id"),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="bucket-partitioned"):
            call()
    assert tree() == before
    assert not (tmp_path / "ck").exists()
    assert not (tmp_path / "index").exists()


@pytest.mark.parametrize(
    "forget, id_col",
    [(forget_documents, "doc_id"), (forget_vectors, "vec_id")],
    ids=["forget_documents", "forget_vectors"],
)
def test_forget_completes_an_interrupted_corpus_erase(
    spark, tmp_path, monkeypatch, forget, id_col
):
    """The corpus erase rewrites survivors through the ``_compacting``
    swap, never a truncating overwrite. A crash after the new files are
    complete (marker written) and part-way through deleting the old ones
    leaves a zone that reads short; re-running forget completes the swap
    to exactly the survivors. A forget whose ids are all absent rewrites
    nothing."""
    from aws_data_pipeline_spark.sources import parquet as P

    corpus = str(tmp_path / "corpus")
    schema = f"{id_col} long, text string"
    for lo in (0, 50):  # two ingest-style batches: two flat files
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(lo, lo + 50)], schema
        ).coalesce(1).write.mode("append").parquet(corpus)
    olds = sorted(_data_files(corpus))
    doomed = spark.createDataFrame([(3,), (77,)], f"{id_col} long")
    want = set(range(100)) - {3, 77}

    def crash(spark, path):
        raise RuntimeError("crash after the swap marker")

    monkeypatch.setattr(P, "_finish_compaction_swap", crash)
    with pytest.raises(RuntimeError, match="crash after"):
        forget(spark, doomed, corpus_path=corpus)
    monkeypatch.undo()
    # the live zone is untouched until the marker's swap runs ...
    assert sorted(_data_files(corpus)) == olds
    # ... which now dies after deleting one old file: the zone reads short
    os.remove(os.path.join(corpus, olds[0]))
    assert spark.read.parquet(corpus).count() == 50

    assert forget(spark, doomed, corpus_path=corpus)["corpus"] == 0
    assert not os.path.exists(os.path.join(corpus, "_compacting"))
    got = [r[0] for r in spark.read.parquet(corpus).select(id_col).collect()]
    assert sorted(got) == sorted(want)

    # ids absent from the zone: no rewrite, the files stay as they are
    files = sorted(_data_files(corpus))
    assert forget(spark, doomed, corpus_path=corpus)["corpus"] == 0
    assert sorted(_data_files(corpus)) == files
    # an uninterrupted erase counts what it removed
    one = spark.createDataFrame([(50,), (3,)], f"{id_col} long")
    assert forget(spark, one, corpus_path=corpus)["corpus"] == 1
    got = [r[0] for r in spark.read.parquet(corpus).select(id_col).collect()]
    assert sorted(got) == sorted(want - {50})
