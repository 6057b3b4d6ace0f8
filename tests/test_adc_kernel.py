"""The residual-ADC kernel behind the IVF-PQ serve, screen and in-memory
top-k (llmdata/ann_index.py::_adc_topk): the exact (adc, neighbor_id)
cut across scan shards, the cost-sized scan partitioning, the job
count of one serve, the byte-bounded driver copy and its ``max_rows``
pass-through in the ingest loops, and the read-only quantizer memo.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import ann_index
from sales_forecast_pyspark_spark.llmdata.ann_index import (
    append_to_ivfpq_index,
    build_ivfpq_index,
    query_ivfpq_index,
    screen_against_ivfpq_index,
)
from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("adc") / "idx")
    build_ivfpq_index(emb, path)
    return path


@pytest.fixture(scope="module")
def tie_index(spark, emb, tmp_path_factory):
    """An index on 300 corpus vectors plus 400 exact copies of one
    vector the build never saw, appended under shuffled ids — 400 rows
    with identical codes in one cell, more than the serve's (k=5 ×
    refine 32) and the screen's (5 × 8) candidate pools. Returns
    (path, the copied vector, the copies' ids, their cell)."""
    path = str(tmp_path_factory.mktemp("adc_tie") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 300), path)
    vec = emb.filter(F.col("vec_id") == 450).first()["embedding"]
    ids = [100_000 + (i * 7919) % 1000 for i in range(400)]
    copies = spark.createDataFrame(
        [(i, vec) for i in ids], "vec_id long, embedding array<float>"
    )
    assert append_to_ivfpq_index(copies, path) == 400
    cells = {
        r["cell"]
        for r in spark.read.parquet(f"{path}/codes")
        .filter(F.col("neighbor_id") >= 100_000)
        .select("cell")
        .distinct()
        .collect()
    }
    assert len(cells) == 1
    return path, vec, sorted(ids), cells.pop()


def _all_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_kernel_folds_match_the_spark_expressions(spark):
    """The kernel's ADC table entries are the left-to-right folds of
    the Spark ``aggregate`` expressions the serve path used to
    evaluate, bit for bit. Its candidate cut keeps exactly the rows a
    sort on (adc, neighbor_id) keeps, ties at the boundary included."""
    import numpy as np

    rng = np.random.default_rng(7)
    sub, n_codes = 8, 16
    x = rng.standard_normal((5, 2 * sub))
    books = [rng.standard_normal((n_codes, sub)) for _ in range(2)]
    tabs = ann_index._adc_tables(
        x, [np.ascontiguousarray(b.T) for b in books], sub
    )
    rows = [
        (q, j, c, x[q, j * sub : (j + 1) * sub].tolist(), books[j][c].tolist())
        for q in range(5)
        for j in range(2)
        for c in range(n_codes)
    ]
    df = spark.createDataFrame(
        rows, "q int, j int, c int, r array<double>, cen array<double>"
    )
    sq_dist = F.aggregate(
        F.zip_with("r", "cen", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    want = df.select("q", "j", "c", sq_dist.alias("dd")).collect()
    for r in want:
        assert tabs[r["j"]][r["c"], r["q"]] == r["dd"]

    adc = rng.integers(0, 4, (6, 30)).astype(float)
    nid = rng.permutation(1000)[:30]
    for take in (1, 7, 30):
        got = ann_index._exact_cut(adc, nid, take)
        for i in range(len(adc)):
            ref = sorted(range(30), key=lambda c: (adc[i, c], nid[c]))[:take]
            assert sorted(got[i]) == sorted(ref)


def test_tie_cut_keeps_lowest_ids_across_shards(spark, tie_index, monkeypatch):
    """400 stored rows tie exactly on ADC inside one probed cell — more
    than either candidate pool — and every probed cell runs as its own
    scan shard: the cell's cut and the window merging the shards must
    both cut on (adc, neighbor_id), so serve and screen return the
    lowest tied ids, never an arbitrary tie member."""
    path, vec, ids, cell = tie_index
    monkeypatch.setattr(ann_index, "_SHARD_WORK", 1)
    cell_mat, _ = ann_index._quantizers(spark, path)
    codes = ann_index._read_index_table(spark, path, "codes")
    probes = dict.fromkeys(range(6), 1) | {cell: 1}
    assert ann_index._scan_shards(codes, probes, len(cell_mat))[1] == len(probes)

    q = spark.createDataFrame([(-1, vec)], "vec_id long, embedding array<float>")
    served = query_ivfpq_index(spark, path, q, k=5).collect()
    assert [(r["neighbor_id"], r["cos_sim"], r["rank"]) for r in served] == [
        (i, 1.0, n + 1) for n, i in enumerate(ids[:5])
    ]
    screened = screen_against_ivfpq_index(spark, path, q, k=5).collect()
    assert sorted((r["dup_of"], r["cos_sim"]) for r in screened) == [
        (i, 1.0) for i in ids[:5]
    ]


def test_scan_partitions_equal_shard_count(spark, index_path, monkeypatch):
    """The scan is sized by predicted cost, not by
    ``spark.sql.shuffle.partitions``: a small probe of the fixture
    index packs every cell into one task, and with the per-task work
    bound cut so that every cell is its own shard, under a non-default
    shuffle setting, the scan still has exactly one partition per
    shard, each holding one shard, and the served rows do not change."""
    codes = ann_index._read_index_table(spark, index_path, "codes")
    probes = dict.fromkeys(range(16), 12)
    assert ann_index._scan_shards(codes, probes, 16)[1] == 1
    monkeypatch.setattr(ann_index, "_SHARD_WORK", 1)
    queries = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").filter(
        F.col("vec_id") < 20
    )
    before = query_ivfpq_index(spark, index_path, queries, k=5).collect()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        frame, n_shards = ann_index._scan_shards(codes, probes, 16)
        assert n_shards == 16
        assert frame.rdd.getNumPartitions() == n_shards
        per_part = frame.rdd.glom().map(
            lambda rows: len({r["_shard"] for r in rows})
        ).collect()
        assert max(per_part) == 1
        assert sum(per_part) == frame.select("_shard").distinct().count()
        after = query_ivfpq_index(spark, index_path, queries, k=5).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert after == before


def test_serve_launches_fewer_jobs_than_the_expression_path(
    spark, emb, index_path
):
    """One warm ``query_ivfpq_index`` call plus its collect, 20 queries
    on the sf0.01 fixture index. The expression-built serve path it
    replaced launched 18 Spark jobs for this call, counted the same way
    (meta read, dimension check, probed-cell collect, schema reads, and
    the ADC-table aggregations and windows of the collect)."""
    queries = emb.filter(F.col("vec_id") < 20)
    query_ivfpq_index(spark, index_path, queries, k=5).collect()
    before = _all_job_ids(spark)
    query_ivfpq_index(spark, index_path, queries, k=5).collect()
    n_jobs = len(_all_job_ids(spark) - before)
    assert 0 < n_jobs < 18, n_jobs


def test_driver_copy_is_bounded_by_bytes(spark, emb, index_path, monkeypatch):
    """The kernel's driver copy is refused past rows × d × 8 bytes, not
    past a row count alone: with the bound cut to 10 rows at the
    fixture's d=64, serve and screen each refuse an 11-row query set
    with their own message, and the screen's ``max_rows`` still
    refuses below the byte bound."""
    assert ann_index._DRIVER_COPY_BYTES == 50_000 * 128 * 8
    monkeypatch.setattr(ann_index, "_DRIVER_COPY_BYTES", 10 * 64 * 8)
    q = emb.filter(F.col("vec_id") < 11)
    with pytest.raises(ValueError, match="query_ivfpq_index serves bounded"):
        query_ivfpq_index(spark, index_path, q)
    with pytest.raises(ValueError, match=r"got 11 rows > 10 rows \(5120 bytes"):
        screen_against_ivfpq_index(spark, index_path, q)
    with pytest.raises(
        ValueError,
        match=r"contract-bounded ingest batches: got 6 rows > max_rows=5\. "
        r"Use embedding_near_dups / query_ivfpq_index for corpus-scale sweeps\.",
    ):
        screen_against_ivfpq_index(spark, index_path, q, max_rows=5)
    assert len(query_ivfpq_index(spark, index_path, q.limit(10)).collect()) == 50


def test_quantizer_memo_arrays_are_read_only(spark, index_path):
    """A caller writing into a loaded quantizer array in place must
    fail loudly instead of poisoning the process-wide memo."""
    _, cell_mat, books = ann_index._load_quantizers(spark, index_path)
    with pytest.raises(ValueError, match="read-only"):
        cell_mat[0, 0] = 1.0
    for b in books:
        with pytest.raises(ValueError, match="read-only"):
            b[0, 0] += 1.0


def test_ingest_loops_pass_max_rows_to_the_screen(spark, tmp_path, monkeypatch):
    """``max_rows`` reaches the index screen from both streaming loops
    (the semantic loop and the triad loop), so an operator can set the
    micro-batch ceiling without editing the library."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_fp_store,
        build_minhash_store,
        stream_ingest_dedup_all,
        stream_ingest_semantic_dedup,
    )

    def fake_screen(*args, max_rows=None, **kwargs):
        raise RuntimeError(f"SCREEN_MAX_ROWS={max_rows}")

    monkeypatch.setattr(ann_index, "screen_against_ivfpq_index", fake_screen)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    corpus = docs.join(vecs, "doc_id").filter(F.col("doc_id") < 40)
    src = str(tmp_path / "src")
    corpus.select(
        (F.col("doc_id") + 90_000).alias("doc_id"),
        F.concat(F.lit("fresh words "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
        "embedding",
    ).filter(F.col("doc_id") < 90_003).coalesce(1).write.parquet(src)

    def stream():
        return spark.readStream.schema(spark.read.parquet(src).schema).parquet(
            src
        )

    q = stream_ingest_semantic_dedup(
        stream().select(F.col("doc_id").alias("vec_id"), "embedding"),
        str(tmp_path / "idx_unused"),
        survivors_dir=str(tmp_path / "out_sem"),
        checkpoint_dir=str(tmp_path / "ck_sem"),
        max_rows=123,
    )
    with pytest.raises(Exception, match="SCREEN_MAX_ROWS=123"):
        q.awaitTermination(120)

    fp, mh = str(tmp_path / "fp"), str(tmp_path / "mh")
    build_fp_store(corpus, fp)
    build_minhash_store(corpus, mh)
    q = stream_ingest_dedup_all(
        stream(),
        fp,
        mh,
        str(tmp_path / "idx_unused"),
        survivors_dir=str(tmp_path / "out_all"),
        checkpoint_dir=str(tmp_path / "ck_all"),
        max_rows=456,
    )
    with pytest.raises(Exception, match="SCREEN_MAX_ROWS=456"):
        q.awaitTermination(120)
