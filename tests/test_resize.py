"""_shrink API: factor-rule shrink is a zero-rehash regroup."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.index.builder import build_index, load_index
from elasticsearch_spark.ops.resize import shrink_index
from elasticsearch_spark.search.executor import match_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def src_idx(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path_factory.mktemp("shrink_src"))
    build_index(docs.select("doc_id", "text"), out,
                fields={"text": "ascii_word"}, num_partitions=8,
                input_snapshot="shrinktest")
    return out


def test_shrink_rank_identity(spark, src_idx, tmp_path):
    from elasticsearch_spark.search.extras import termvectors

    dst = str(tmp_path / "shrunk")
    meta = shrink_index(spark, src_idx, dst, 4)
    assert meta["num_partitions"] == 4
    terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
    a = match_topk(load_index(spark, src_idx), "text", terms, k=10).collect()
    b = match_topk(load_index(spark, dst), "text", terms, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == \
           [(r["doc_id"], round(r["score"], 9)) for r in b]
    # the single-doc routed lookup (pmod(xxhash64(id), P)) still finds
    # its doc under the NEW partition count — the factor rule at work
    tv = termvectors(load_index(spark, dst), "text", 42).collect()
    assert tv
    # routing invariant: every block row sits in part_id == old % 4
    parts = load_index(spark, dst).postings.select(
        F.max("part_id").alias("m")).first()
    assert parts["m"] <= 3


def test_shrink_validation(spark, src_idx, tmp_path):
    with pytest.raises(ValueError, match="factor"):
        shrink_index(spark, src_idx, str(tmp_path / "x"), 3)
    with pytest.raises(ValueError, match="factor"):
        shrink_index(spark, src_idx, str(tmp_path / "y"), 0)
    dst = str(tmp_path / "ok")
    shrink_index(spark, src_idx, dst, 2)
    with pytest.raises(ValueError, match="already holds"):
        shrink_index(spark, src_idx, dst, 2)


def test_index_stats(spark, src_idx):
    from elasticsearch_spark.index.builder import index_stats, load_index

    st = index_stats(load_index(spark, src_idx))
    t = st["totals"]
    assert t["num_partitions"] == 8
    assert t["partitions_done"] == len(st["partitions"]) > 0
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert t["docs"] == docs
    assert t["postings"] > 0 and t["distinct_terms"] > 0
    assert st["collection_stats"]["text"]["n_docs"] == docs
    for p in st["partitions"]:
        assert {"partition_id", "num_docs", "num_terms",
                "num_postings"} <= set(p)

def test_split_rank_identity(spark, src_idx, tmp_path):
    """_split: decode -> re-route -> re-encode, no re-analysis. Scores
    are bit-identical because global stats copy verbatim."""
    from elasticsearch_spark.ops.resize import split_index
    from elasticsearch_spark.search.extras import termvectors

    dst = str(tmp_path / "split")
    meta = split_index(spark, src_idx, dst, 16)
    assert meta["num_partitions"] == 16
    assert meta["split_from"]["num_partitions"] == 8
    terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
    a = match_topk(load_index(spark, src_idx), "text", terms, k=10).collect()
    b = match_topk(load_index(spark, dst), "text", terms, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == \
           [(r["doc_id"], round(r["score"], 9)) for r in b]
    # single-doc routed lookup resolves under the NEW partition count
    some_id = a[0]["doc_id"]
    tv = termvectors(load_index(spark, dst), "text", int(some_id)).collect()
    assert tv
    # every posting row actually re-routed: part_id == xxhash64(doc) % 16
    idx2 = load_index(spark, dst)
    from elasticsearch_spark.search.executor import decoded_postings
    bad = (decoded_postings(idx2, "text")
           .filter(F.col("part_id") != F.pmod(
               F.xxhash64(F.col("doc_id")), F.lit(16)).cast("int"))
           .count())
    assert bad == 0
    # index_stats derives from the recomputed markers
    from elasticsearch_spark.index.builder import index_stats
    st = index_stats(idx2)
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert st["totals"]["docs"] == docs
    # same writer as the build: the split's blocks are exactly those of
    # a fresh 16-partition build of the same docs
    fresh = str(tmp_path / "fresh16")
    build_index(spark.read.parquet(f"{SF}/documents.parquet")
                .select("doc_id", "text"), fresh,
                fields={"text": "ascii_word"}, num_partitions=16,
                input_snapshot="shrinktest")

    def block_rows(path):
        return sorted(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in r)
            for r in load_index(spark, path).postings
            .filter(F.col("term").isNotNull()).collect())

    assert block_rows(dst) == block_rows(fresh)


def test_split_validation(spark, src_idx, tmp_path):
    from elasticsearch_spark.ops.resize import split_index

    with pytest.raises(ValueError, match="multiple"):
        split_index(spark, src_idx, str(tmp_path / "x"), 12)
    with pytest.raises(ValueError, match="multiple"):
        split_index(spark, src_idx, str(tmp_path / "y"), 8)


def test_disk_usage_breakdown(spark, src_idx):
    from elasticsearch_spark.index.builder import disk_usage, load_index

    du = disk_usage(load_index(spark, src_idx))
    f = du["fields"]["text"]
    assert du["store_size_bytes"] > 0
    assert f["postings"] > 0 and f["blocks"] > 0
    # every payload stream carries real bytes for a text field
    for k in ("doc_ids_bytes", "tfs_bytes", "norms_bytes",
              "positions_bytes"):
        assert f[k] > 0
    # compressed streams must undercut raw int64 encoding
    assert f["doc_ids_bytes"] < 8 * f["postings"]


def test_clone_index_rank_identity(spark, tmp_path):
    import os

    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index import build_index
    from elasticsearch_spark.index.builder import load_index
    from elasticsearch_spark.ops.resize import clone_index
    from elasticsearch_spark.search.executor import match_topk

    src = str(tmp_path / "src")
    corpus = generate_corpus(spark, 120, seed=3)
    build_index(corpus, src, fields={"content": "code"}, num_partitions=2,
                id_cols=["repo", "path", "commit"], input_snapshot="v1")
    dst = str(tmp_path / "dst")
    clone_index(src, dst)
    a = match_topk(load_index(spark, src), "content", ["import", "def"], k=10)
    b = match_topk(load_index(spark, dst), "content", ["import", "def"], k=10)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # clone of a clone into an existing index dir refuses
    import pytest as _pytest
    with _pytest.raises(ValueError):
        clone_index(src, dst)
