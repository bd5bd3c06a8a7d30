"""Round-9 registry extensions: distributed txn-table planning
(partition layout + file-index pruning as a Spark filter), the change
feed out of the table, and the write-time ANN encodings.

VERDICT r8 "next round" items 1, 2, 4, 7 — each as an exact-oracled
query. Same conventions as registry.py: every computed column aliased
identically on both engines; integer aggregates cast to BIGINT on the
DuckDB side (HUGEINT hash trap).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .phases import timed_phase
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _tmp_table_path(sf_dir: str, tag: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/spark_graft_{tag}_{base}"
    shutil.rmtree(path, ignore_errors=True)
    return path


# the 4-day range the skipping/CDC/stream fixtures all share
_SKIP_LO, _SKIP_HI = "2024-01-08", "2024-01-12"


# ---------------------------------------------------------------------------
# similarity_topk_filtered — FILTERED ANN (VERDICT r8 next #4): "top-k
# similar where label = 1". The predicate restricts CANDIDATES only —
# the pinned quantizer (centroids = corpus rows 1..16) and the query
# vector come from the unfiltered corpus, so the filter cannot break
# cell assignment — and is applied before assignment, so Catalyst
# pushes it into the scan (composing with partition pruning on a
# cell-partitioned store). The oracle replays assignment + probe
# pruning + the filter + exact rescoring bit-for-bit; recall UNDER
# FILTERING (selectivity changes the cell math) is measured in
# tests/test_ann_filtered.py.
# ---------------------------------------------------------------------------

_EMB_DBL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

_FILTERED_IVF_SQL = f"""
WITH cents AS (
  SELECT CAST(vec_id - 1 AS INT) AS cid, {_EMB_DBL} AS cv
  FROM embeddings WHERE vec_id BETWEEN 1 AND 16
),
q AS (SELECT {_EMB_DBL} AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM cents, q
  ORDER BY list_dot_product(qv, qv) - 2 * list_dot_product(qv, cv)
           + list_dot_product(cv, cv), cid
  LIMIT 4
),
e AS (SELECT vec_id, {_EMB_DBL} AS ev FROM embeddings
      WHERE vec_id <> 0 AND label = 1),
assign AS (
  SELECT vec_id, ev FROM (
    SELECT e.vec_id, e.ev, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(ev, ev) - 2 * list_dot_product(ev, cv)
                      + list_dot_product(cv, cv), c.cid
           ) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
)
SELECT vec_id,
       list_dot_product(ev, qv)
         / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)))
         AS cosine_sim
FROM assign, q
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


@register("similarity_topk_filtered", _FILTERED_IVF_SQL)
def q_similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    return similarity.cosine_topk_ivf_pinned(
        _t(spark, sf_dir, "embeddings"),
        n_cells=16,
        nprobe=4,
        k=10,
        candidate_filter=F.col("label") == 1,
    )


# ---------------------------------------------------------------------------
# similarity_topk_pq_stored — WRITE-TIME PQ encoding (VERDICT r8 next
# #7): the corpus is persisted as (vec_id, pq_code) with the embedding
# column DROPPED (write_pq_encoded), then the ADC query runs over the
# STORED codes — the scan cannot read embedding bytes because the file
# has none (tests/test_pq_stored.py pins the plan's ReadSchema). Codes
# are deterministic ints and parquet roundtrips them exactly, so the
# oracle is the SAME arithmetic as the query-time PQ query — a result
# difference would mean the store changed the codes.
# ---------------------------------------------------------------------------


def _pq_stored_sql() -> str:
    from .registry_ext12 import _pq_topk_sql

    return _pq_topk_sql()


@register("similarity_topk_pq_stored", _pq_stored_sql())
def q_similarity_topk_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity
    from .registry_ext12 import _PQ_K, _PQ_KS, _PQ_M

    emb = _t(spark, sf_dir, "embeddings")
    with timed_phase("fixture_build:pqstore"):
        cbs = similarity.pq_codebooks_pinned(emb, m=_PQ_M, ks=_PQ_KS)
        qvec = [
            float(v)
            for v in emb.where(F.col("vec_id") == 0)
            .select("embedding")
            .first()[0]
        ]
        path = _tmp_table_path(sf_dir, "pqstore")
        similarity.write_pq_encoded(emb, cbs, path)
    return similarity.pq_adc_topk_stored(
        spark, path, qvec, cbs, k=_PQ_K, exclude_id=0
    ).withColumn("adc_dist", F.round("adc_dist", 6))


# ---------------------------------------------------------------------------
# txnlog_partition_pruning — Hive-layout partition pruning through the
# DISTRIBUTED planner: the table is partitioned by the 5-day ingest
# bucket (partition_by=["bucket"]), committed in ONE append whose
# partitionBy write lands one directory per bucket (coalesce(1) → one
# file each), then scanned with a bucket predicate through
# scan(distributed=True) — pruning computed as a Spark filter over the
# file_index() snapshot, not a driver loop (VERDICT r8 next #1). The
# oracle predicts BOTH the aggregate (pruning + residual filter must
# equal a plain filter; the value predicate is residual-only) AND the
# files_scanned count: one file per distinct bucket among the matching
# bucket range — an arithmetic fact about dense per-day data,
# independent of the engine. Reference analog: the engine's 100 TB
# partition-pruning posture (BASELINE.json); Delta's partition-column
# data skipping.
# ---------------------------------------------------------------------------

_PARTPRUNE_SQL = """
WITH ev AS (
  SELECT event_type, value,
         least(CAST(floor((day(ts) - 1) / 5) AS BIGINT), 5) AS bucket
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       (SELECT CAST(count(DISTINCT bucket) AS BIGINT) FROM ev
        WHERE bucket BETWEEN 1 AND 2) AS files_scanned
FROM ev
WHERE bucket BETWEEN 1 AND 2 AND value >= 10.0
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# txnlog_zorder3_skipping — OPTIMIZE ZORDER BY over THREE columns
# (VERDICT r8 next #9: Delta's any-column-count surface), then a 3-D
# box scan. One overwrite, an atomic n-ary Morton rewrite clustered on
# (user_id, centi-value, day-of-month), then a box predicate on ALL
# three dimensions through the stats-pruned scan. The oracle proves
# the rewrite lost/duplicated nothing and the residual filter is
# exact; `skipped` pins that the layout pruned at least one file
# (tests/test_zorder_n.py asserts the stronger quantitative floor).
# ---------------------------------------------------------------------------

_ZBOX3_SQL = """
WITH hit AS (
  SELECT event_type, user_id, value, ts FROM events
  WHERE value >= 50.0 AND value <= 60.0
    AND user_id <= 7
    AND day(ts) BETWEEN 10 AND 20
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_user,
       round(sum(value), 2) AS sum_value,
       CAST(count(DISTINCT day(ts)) AS BIGINT) AS n_days,
       CAST(TRUE AS BOOLEAN) AS skipped
FROM hit
GROUP BY event_type
"""


@register("txnlog_zorder3_skipping", _ZBOX3_SQL)
def q_txnlog_zorder3_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txnlog import TxnTable

    path = _tmp_table_path(sf_dir, "txnz3")
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", "value", "ts", F.dayofmonth("ts").alias("dd")
    )
    t = TxnTable(spark, path)
    t.overwrite(ev)
    # 16-bit z dims: user_id < 2^16 at every SF; value in centi-units
    # (max ~56k < 2^16); day-of-month 1..31.
    t.optimize_zorder(
        F.col("user_id"),
        F.least(F.lit(65535), F.floor(F.col("value") * 100)),
        F.col("dd"),
        partitions=16,
    )
    where = [
        ("value", "between", (50.0, 60.0)),
        ("user_id", "<=", 7),
        ("dd", "between", (10, 20)),
    ]
    rep = t.prune_report(where)
    return (
        t.scan(where)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("sum_user"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("dd").alias("n_days"),
        )
        .withColumn("skipped", F.lit(rep["kept"] < rep["total"]))
    )


# ---------------------------------------------------------------------------
# txnlog_table_changes — the CDC feed OUT of the txn table (VERDICT r8
# next #2): six 5-day appends (v1..v6), then a CoW DELETE of a 4-day
# range (v7), read back as table_changes(from_version=4). The oracle
# replays the commit arithmetic row-for-row: v5/v6 contribute their
# buckets as inserts; v7 deletes ALL rows of the two files the
# stats-pruned CoW rewrite touched (buckets 1-2 — file granularity is
# the documented contract of CDC-by-file-diff) and re-inserts their
# surviving rows. Any feed bug — a missed commit, wrong granularity,
# data_change leak, wrong version stamp — breaks the hash.
# ---------------------------------------------------------------------------

_TABLE_CHANGES_SQL = f"""
WITH ev AS (
  SELECT event_type, value, ts,
         CAST(floor((day(ts) - 1) / 5) AS BIGINT) AS b
  FROM events WHERE day(ts) <= 30
),
changes AS (
  SELECT 'insert' AS _change_type, 5 AS _commit_version, event_type, value
  FROM ev WHERE b = 4
  UNION ALL
  SELECT 'insert', 6, event_type, value FROM ev WHERE b = 5
  UNION ALL
  SELECT 'delete', 7, event_type, value FROM ev WHERE b IN (1, 2)
  UNION ALL
  SELECT 'insert', 7, event_type, value FROM ev
  WHERE b IN (1, 2)
    AND NOT (ts >= TIMESTAMP '{_SKIP_LO} 00:00:00'
             AND ts < TIMESTAMP '{_SKIP_HI} 00:00:00')
)
SELECT _change_type,
       CAST(_commit_version AS BIGINT) AS _commit_version,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM changes
GROUP BY _change_type, _commit_version, event_type
"""


@register("txnlog_table_changes", _TABLE_CHANGES_SQL)
def q_txnlog_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_ext12 import _six_bucket_table

    t = _six_bucket_table(spark, sf_dir, "txncdc")  # v1..v6 appends
    t.delete([("ts", ">=", _SKIP_LO), ("ts", "<", _SKIP_HI)])  # v7 CoW
    return (
        t.table_changes(from_version=4)
        .groupBy("_change_type", "_commit_version", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register("txnlog_partition_pruning", _PARTPRUNE_SQL)
def q_txnlog_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.txnlog import TxnTable

    with timed_phase("fixture_build:txnpart"):
        path = _tmp_table_path(sf_dir, "txnpart")
        ev = (
            _t(spark, sf_dir, "events")
            .select(
                "event_type",
                "value",
                F.least(
                    F.floor((F.dayofmonth("ts") - 1) / 5).cast("long"),
                    F.lit(5).cast("long"),
                ).alias("bucket"),
            )
            .coalesce(1)
        )
        t = TxnTable(spark, path, partition_by=["bucket"])
        t.append(ev)
    where = [("bucket", "between", (1, 2)), ("value", ">=", 10.0)]
    scanned = t.prune_report(
        [("bucket", "between", (1, 2))], distributed=True
    )["kept"]
    return (
        t.scan(where, distributed=True)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("files_scanned", F.lit(scanned).cast("long"))
    )


# ---------------------------------------------------------------------------
# txnlog_format_scan — the Spark-NATIVE surface of the txn table:
# spark.read.format("txnlog") (sources/txnlog_datasource.py, PySpark 4
# Python DataSource API). The scan is planned from the commit log
# (driver JSON only), read executor-side via Arrow, and Catalyst's
# pushed predicates are translated into commit-log FILE PRUNING
# (pushFilters → _file_may_match): files_scanned here is the actual
# partition count of the filtered scan RDD — one partition per
# surviving file — which the oracle predicts arithmetically exactly
# like txnlog_data_skipping. A pushdown bug shows up as the wrong
# files_scanned; a read-path bug as a wrong aggregate.
# ---------------------------------------------------------------------------

_FMT_SCAN_SQL = """
WITH hit AS (
  SELECT event_type, value, ts FROM events
  WHERE day(ts) BETWEEN 8 AND 11
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       (SELECT CAST(count(DISTINCT floor((day(ts) - 1) / 5)) AS BIGINT)
        FROM hit) AS files_scanned
FROM hit
GROUP BY event_type
"""


def _format_pushdown_query(
    spark: SparkSession, sf_dir: str, tag: str, ingest=None
) -> DataFrame:
    """Shared body of the format-scan oracle pair: six-bucket dd ingest
    via ``ingest(path, slices)`` (the library appends or the native
    sink — the only thing the two queries differ in), then the
    pushed-filter read + aggregate whose _FMT_SCAN_SQL oracle both
    share. ONE definition so the two plans cannot silently diverge
    from the oracle they share (r10 review).

    ``ingest=None`` (optimization r15): the LIBRARY-append ingest is a
    pure input fixture for the pushed-filter READ this query proves, so
    it builds once per machine per events-content through
    ``cached_fixture`` (keyed on the txnlog module source — any write-
    path change rebuilds it), exactly like the six-bucket table every
    other txnlog query scans; the query reads the pristine store
    directly (read-only, no clone — the anngate pattern). The NATIVE
    SINK twin (txnlog_format_write) keeps its live per-run ingest: the
    sink writer is the thing that query proves.

    day-of-month is carried as a LONG column: the JVM→Python pushdown
    bridge offers integer-family literals (a TIMESTAMP literal never
    reaches pushFilters in this Spark version — kept as a residual
    day(ts) equivalence in the oracle instead)."""
    from ..sources.txnlog_datasource import register_txnlog_source

    register_txnlog_source(spark)

    def _slices():
        # materialized ONCE before slicing (r15): each of the six
        # slice jobs otherwise re-ran the events scan (+ the size-
        # adaptive spread exchange) just to keep one bucket
        ev = _t(spark, sf_dir, "events").select(
            "event_type", "value", "ts", F.dayofmonth("ts").alias("dd")
        ).localCheckpoint(eager=True)
        bucket = F.floor((F.col("dd") - 1) / 5)
        return [ev.where(bucket == b).coalesce(1) for b in range(6)]

    with timed_phase(f"fixture_build:{tag}"):
        if ingest is None:
            from ..sources import txnlog as _txnlog_mod
            from ..sources.txnlog import TxnTable
            from .fixtures import cached_fixture

            def _build(fpath: str) -> None:
                t = TxnTable(spark, fpath)
                for b, s in enumerate(_slices()):
                    t.append(s, batch_id=b)

            path = cached_fixture(
                sf_dir,
                "fmtscan",
                ["events"],
                _build,
                code_modules=(_txnlog_mod,),
            )
        else:
            path = _tmp_table_path(sf_dir, tag)
            ingest(path, _slices())
    base = (
        spark.read.format("txnlog")
        .load(path)
        .where((F.col("dd") >= 8) & (F.col("dd") <= 11))
    )
    scanned = base.rdd.getNumPartitions()  # one partition per kept file
    return (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("files_scanned", F.lit(scanned).cast("long"))
    )


@register("txnlog_format_scan", _FMT_SCAN_SQL)
def q_txnlog_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # library-append ingest = cached input fixture (see the shared
    # body); the measured computation is the pushed-filter scan
    return _format_pushdown_query(spark, sf_dir, "txnfmt")


# ---------------------------------------------------------------------------
# txnlog_stream_source — spark.readStream.format("txnlog") with
# readChangeFeed: the change feed consumed through Spark's OWN
# streaming machinery (offsets = log versions in the checkpoint,
# micro-batch partitions = changed files, executor-side Arrow reads) —
# the second half of VERDICT r8 next #2. Same table build and commit
# arithmetic as txnlog_table_changes, so the SAME oracle applies: the
# availableNow drain must reproduce the batch feed bit-for-bit.
# ---------------------------------------------------------------------------


@register("txnlog_stream_source", _TABLE_CHANGES_SQL)
def q_txnlog_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txnlog_datasource import register_txnlog_source
    from .registry import drain_stream
    from .registry_ext12 import _six_bucket_table

    register_txnlog_source(spark)
    t = _six_bucket_table(spark, sf_dir, "txnstreamsrc")  # v1..v6
    t.delete([("ts", ">=", _SKIP_LO), ("ts", "<", _SKIP_HI)])  # v7 CoW
    feed = (
        spark.readStream.format("txnlog")
        .option("readChangeFeed", "true")
        .option("startVersion", 4)
        .load(t.path)
    )
    name = "txnlog_stream_source_sink"
    q = (
        feed.groupBy("_change_type", "_commit_version", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(name)


# ---------------------------------------------------------------------------
# txnlog_batch_cdf — BATCH readChangeFeed through format("txnlog")
# (spark.read + readChangeFeed=true + startVersion, Delta's batch CDF
# shape; r9 review fix — this read used to fall through to the
# snapshot reader and stamp NULL CDC columns). Same table build and
# commit arithmetic as txnlog_table_changes, so the SAME oracle
# applies: all three feed surfaces (library table_changes, streaming
# source, batch format read) must agree bit-for-bit.
# ---------------------------------------------------------------------------


@register("txnlog_batch_cdf", _TABLE_CHANGES_SQL)
def q_txnlog_batch_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txnlog_datasource import register_txnlog_source
    from .registry_ext12 import _six_bucket_table

    register_txnlog_source(spark)
    t = _six_bucket_table(spark, sf_dir, "txnbatchcdf")  # v1..v6
    t.delete([("ts", ">=", _SKIP_LO), ("ts", "<", _SKIP_HI)])  # v7 CoW
    feed = (
        spark.read.format("txnlog")
        .option("readChangeFeed", "true")
        .option("startVersion", 4)
        .load(t.path)
    )
    return feed.groupBy(
        "_change_type", "_commit_version", "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# multimodal_decode_jpeg_progressive — REAL PROGRESSIVE (SOF2) JPEG
# decode (T.81 G.2: DC first + refinement under the successive-
# approximation point transform, AC band scan with a multi-block EOB
# run, operators/multimodal.py:_jpeg_scan_prog) — closes the last
# "progressive JPEGs degrade to format-only" gap (VERDICT r8 missing
# #5; most real corpus JPEGs are progressive). Fixtures encode the
# SAME flat DC-only blocks as the baseline fixtures across three
# progressive scans, so the SAME arithmetic oracle predicts every
# statistic — a decoder that ignores the point transform, mis-folds a
# refinement bit, or mis-counts the EOB run breaks the hash. (The AC
# first/refinement/insertion branches are pixel-exactly pinned against
# an independent IDCT in tests/test_multimodal_progressive.py.)
# ---------------------------------------------------------------------------

_JPEG_PROG_SQL = """
WITH g AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 4 AS INT) AS bx,
         CAST(1 + doc_id % 3 AS INT) AS by
  FROM documents
),
px AS (
  SELECT media_id, bx, by, ((media_id + 7 * bi) % 128) + 64 AS v
  FROM g CROSS JOIN generate_series(0, 11) bis(bi)
  WHERE bi < bx * by
)
SELECT media_id, 'jpeg' AS format,
       CAST(bx * 8 * by * 8 AS BIGINT) AS n_values,
       round(avg(v), 6) AS mean_value,
       CAST(min(v) AS DOUBLE) AS min_value,
       CAST(max(v) AS DOUBLE) AS max_value
FROM px GROUP BY media_id, bx, by
"""


@register("multimodal_decode_jpeg_progressive", _JPEG_PROG_SQL)
def q_multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import (
        decode_media,
        synth_progressive_jpeg_bytes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        synth_progressive_jpeg_bytes(int(m))
                        for m in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return decode_media(media)


# ---------------------------------------------------------------------------
# multimodal_decode_jpeg_restart — RESTART INTERVALS (DRI + RSTn, T.81
# E.2.4, r9): the baseline grayscale fixture re-encoded with DRI=2 —
# byte-aligned in-sequence RST markers between intervals and DC
# predictors reset at each — decoding to EXACTLY the same flat blocks,
# so the SAME arithmetic oracle applies. A decoder that ignores DRI
# dies on the mid-stream marker (format-only nulls); one that forgets
# the predictor reset decodes wrong DC values — either breaks the hash.
# ---------------------------------------------------------------------------

_JPEG_RESTART_SQL = """
WITH g AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 4 AS INT) AS bx,
         CAST(1 + doc_id % 3 AS INT) AS by
  FROM documents
),
px AS (
  SELECT media_id, bx, by, ((media_id + 7 * bi) % 128) + 64 AS v
  FROM g CROSS JOIN generate_series(0, 11) bis(bi)
  WHERE bi < bx * by
)
SELECT media_id, 'jpeg' AS format,
       CAST(bx * 8 * by * 8 AS BIGINT) AS n_values,
       round(avg(v), 6) AS mean_value,
       CAST(min(v) AS DOUBLE) AS min_value,
       CAST(max(v) AS DOUBLE) AS max_value
FROM px GROUP BY media_id, bx, by
"""


@register("multimodal_decode_jpeg_restart", _JPEG_RESTART_SQL)
def q_multimodal_decode_jpeg_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import decode_media, synth_jpeg_restart_bytes

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        synth_jpeg_restart_bytes(int(m))
                        for m in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return decode_media(media)


# ---------------------------------------------------------------------------
# multimodal_decode_jpeg_420 — 4:2:0 CHROMA SUBSAMPLING (r9): color
# YCbCr with luma sampled 2x2 — the dominant layout of real photo
# corpora (the last big "degrades to format-only" class). Fixtures are
# DC-only with constant per-image chroma bounded so no channel clamps
# and (domain-verified) no rounded value lands near .5 — every RGB
# pixel is a closed-form function of (id, luma block index), and the
# oracle replays the MCU interleave, the YCbCr→RGB matrix (T.871) and
# the rounding arithmetically. A decoder that mis-orders the 4Y+Cb+Cr
# MCU, crosses the per-component predictors, or mis-upsamples breaks
# the hash.
# ---------------------------------------------------------------------------

_JPEG_420_SQL = """
WITH g AS (
  SELECT doc_id AS media_id,
         CAST(1 + doc_id % 2 AS INT) AS mcux,
         CAST(1 + doc_id % 3 AS INT) AS mcuy,
         (doc_id % 33) - 16 AS cb,
         (doc_id * 3 % 33) - 16 AS cr
  FROM documents
),
px AS (
  SELECT media_id, mcux, mcuy, cb, cr,
         ((media_id + 7 * bi) % 128) + 64 AS y
  FROM g CROSS JOIN generate_series(0, 23) bis(bi)
  WHERE bi < 4 * mcux * mcuy
),
rgb AS (
  SELECT media_id, mcux, mcuy,
         round(y + 1.402 * cr) AS r,
         round(y - 0.344136 * cb - 0.714136 * cr) AS gg,
         round(y + 1.772 * cb) AS b
  FROM px
)
SELECT media_id, 'jpeg' AS format,
       CAST(mcux * 16 * mcuy * 16 * 3 AS BIGINT) AS n_values,
       round(avg((r + gg + b) / 3.0), 6) AS mean_value,
       CAST(min(least(r, gg, b)) AS DOUBLE) AS min_value,
       CAST(max(greatest(r, gg, b)) AS DOUBLE) AS max_value
FROM rgb GROUP BY media_id, mcux, mcuy
"""


@register("multimodal_decode_jpeg_420", _JPEG_420_SQL)
def q_multimodal_decode_jpeg_420(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as _pd

    from ..operators.multimodal import decode_media, synth_jpeg_420_bytes

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        synth_jpeg_420_bytes(int(m)) for m in pdf["doc_id"]
                    ],
                }
            )

    media = docs.mapInPandas(synth, "media_id long, content binary")
    return decode_media(media)


# ---------------------------------------------------------------------------
# Drift-method breadth (r9 batch 3) — four more Evidently stat tests on
# the pluggable `drift_statistic` surface, same ref/cur fixture as the
# existing family (ref = click values, cur = non-click values):
# hellinger + TVD (binned, one groupBy), energy distance (the exact
# pooled-ECDF step integral — scipy.stats.energy_distance semantics,
# never the O(n²) pairwise form), and the Mann–Whitney U rank test
# (midranks from the same range-bucketed prefix sums as wasserstein; U and
# z are exact-arithmetic — midranks are half-integers — so the oracle
# matches bit-for-bit before rounding).
# ---------------------------------------------------------------------------


@register(
    "value_drift_hellinger_tvd",
    None,  # installed below from registry_ext4's shared binned CTE
)
def q_value_drift_hellinger_tvd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.drift import (
        _binned_counts,
        hellinger_from_counts,
        tvd_from_counts,
    )
    from .registry_ext4 import _drift_binned_inputs

    ref, cur = _drift_binned_inputs(spark, sf_dir)
    counts = _binned_counts(ref, cur, "value", 10.0)  # ONE shared pass
    h = hellinger_from_counts(counts).select(
        F.round("hellinger", 6).alias("hellinger")
    )
    t = tvd_from_counts(counts).select(F.round("tvd", 6).alias("tvd"))
    return h.crossJoin(t)  # two single-row frames


@register(
    "value_drift_energy",
    """
WITH pooled AS (
  SELECT value AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ir,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS ic
  FROM events WHERE value IS NOT NULL
),
agg AS (SELECT v, SUM(ir) AS r, SUM(ic) AS c FROM pooled GROUP BY v),
t AS (SELECT SUM(r) AS tr, SUM(c) AS tc FROM agg),
cum AS (
  SELECT v,
         SUM(r) OVER (ORDER BY v) AS cr,
         SUM(c) OVER (ORDER BY v) AS cc,
         lead(v) OVER (ORDER BY v) AS vn
  FROM agg
)
SELECT round(sqrt(2.0 * SUM(
         power(CAST(cr AS DOUBLE) / tr - CAST(cc AS DOUBLE) / tc, 2)
         * (vn - v))), 6) AS energy
FROM cum, t WHERE vn IS NOT NULL
""",
)
def q_value_drift_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import energy_distance
    from .registry_ext4 import _drift_binned_inputs

    ref, cur = _drift_binned_inputs(spark, sf_dir)
    return energy_distance(ref, cur, "value").select(
        F.round("energy", 6).alias("energy")
    )


@register(
    "value_drift_mannwhitney",
    """
WITH pooled AS (
  SELECT value AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ir,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS ic
  FROM events WHERE value IS NOT NULL
),
agg AS (SELECT v, SUM(ir) AS r, SUM(ic) AS c FROM pooled GROUP BY v),
cum AS (
  SELECT r, c, r + c AS tg,
         SUM(r + c) OVER (ORDER BY v) AS cum_t
  FROM agg
),
tot AS (SELECT SUM(r) AS n1, SUM(c) AS n2 FROM agg),
s AS (
  SELECT SUM(c * (CAST(cum_t - tg AS DOUBLE) + (tg + 1.0) / 2.0)) AS r_cur,
         SUM(CAST(tg AS DOUBLE) * tg * tg - tg) AS tie_term
  FROM cum
)
SELECT round(r_cur - n2 * (n2 + 1.0) / 2.0, 6) AS u_stat,
       round((r_cur - n2 * (n2 + 1.0) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((n1 + n2 + 1.0)
                       - tie_term / (CAST(n1 + n2 AS DOUBLE)
                                     * (n1 + n2 - 1.0)))), 6) AS z,
       CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur
FROM s, tot
""",
)
def q_value_drift_mannwhitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # u_stat and z oracle-checked exactly (midranks are half-integers:
    # the sums are exact doubles, no order sensitivity); the p_approx
    # closed form is pinned in tests/test_drift_family_r9.py instead —
    # same posture as value_drift_chi2.
    from ..operators.drift import mannwhitney_u
    from .registry_ext4 import _drift_binned_inputs

    ref, cur = _drift_binned_inputs(spark, sf_dir)
    return mannwhitney_u(ref, cur, "value").select(
        F.round("u_stat", 6).alias("u_stat"),
        F.round("z", 6).alias("z"),
        "n_ref",
        "n_cur",
    )


@register(
    "auc_pr",
    None,  # installed below (shares registry_ext5's scored fixture)
)
def q_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Average precision — right-step integration of the PR curve
    # (sklearn average_precision_score semantics); completes the curve
    # suite's ROC-side AUC with the PR-side one (imbalanced-label
    # metric of record for churn-sized positive rates).
    from ..operators.evalcurves import auc_pr
    from .registry_ext5 import _proba_scored

    return auc_pr(_proba_scored(spark, sf_dir)).select(
        F.round("auc_pr", 6).alias("auc_pr")
    )


def _install_r9_drift_oracles() -> None:
    """Oracles that reuse shared CTE text from earlier registry files
    (import-time cycles avoided by installing after definition)."""
    from .registry import _ORACLES
    from .registry_ext4 import _BINNED_CTE
    from .registry_ext5 import _PROBA_SQL

    _ORACLES["value_drift_hellinger_tvd"] = (
        _BINNED_CTE
        + """
SELECT round(sqrt(0.5 * SUM(
         power(sqrt(CAST(n_ref AS DOUBLE)
                    / greatest(CAST(t_ref AS DOUBLE), 1e-12))
               - sqrt(CAST(n_cur AS DOUBLE)
                      / greatest(CAST(t_cur AS DOUBLE), 1e-12)), 2))), 6)
         AS hellinger,
       round(0.5 * SUM(abs(CAST(n_ref AS DOUBLE)
                           / greatest(CAST(t_ref AS DOUBLE), 1e-12)
                           - CAST(n_cur AS DOUBLE)
                             / greatest(CAST(t_cur AS DOUBLE), 1e-12))), 6)
         AS tvd
FROM j
"""
    )
    _ORACLES["auc_pr"] = f"""
WITH scored AS ({_PROBA_SQL}),
agg AS (
  SELECT proba,
         SUM(CASE WHEN churn = 1 THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN churn <> 1 THEN 1 ELSE 0 END) AS neg
  FROM scored GROUP BY proba
),
cum AS (
  SELECT pos,
         SUM(pos) OVER (ORDER BY proba DESC) AS tp,
         SUM(neg) OVER (ORDER BY proba DESC) AS fp,
         SUM(pos) OVER () AS p
  FROM agg
)
SELECT round(SUM(CAST(pos AS DOUBLE) / p
                 * (CAST(tp AS DOUBLE) / (tp + fp))), 6) AS auc_pr
FROM cum
"""


_install_r9_drift_oracles()


# ---------------------------------------------------------------------------
# value_drift_hellinger_window / stream_value_drift_hellinger — the
# windowed drift panel with a SECOND streaming-capable statistic (r9):
# the stateful layer is the identical per-(window, column, bin) count
# that the PSI panel maintains — the statistic choice is pure
# arithmetic over the drained counts (stat_from_binned), so Hellinger
# streams with the same watermark-bounded state for free. Same fixture
# and window arithmetic as value_drift_psi_window; the streaming twin
# must reproduce the batch panel bit-for-bit through the shared oracle.
# ---------------------------------------------------------------------------

_HELLINGER_WINDOW_SQL = """
WITH ref AS (SELECT value, CAST(user_id AS DOUBLE) AS user_id FROM events),
cur AS (SELECT date_trunc('week', ts) AS window_start, value * 1.25 AS value,
               CAST(user_id AS DOUBLE) AS user_id
        FROM events WHERE event_type = 'view'),
ref_bins AS (
  SELECT 'value' AS col, CAST(floor(value / 25.0) AS BIGINT) AS bin,
         count(*) AS n_ref
  FROM ref WHERE value IS NOT NULL GROUP BY 2
  UNION ALL
  SELECT 'user_id', CAST(floor(user_id / 10.0) AS BIGINT), count(*)
  FROM ref WHERE user_id IS NOT NULL GROUP BY 2
),
cur_bins AS (
  SELECT window_start, 'value' AS col,
         CAST(floor(value / 25.0) AS BIGINT) AS bin, count(*) AS n_cur
  FROM cur WHERE value IS NOT NULL GROUP BY 1, 3
  UNION ALL
  SELECT window_start, 'user_id', CAST(floor(user_id / 10.0) AS BIGINT),
         count(*)
  FROM cur WHERE user_id IS NOT NULL GROUP BY 1, 3
),
wins AS (SELECT DISTINCT window_start FROM cur_bins),
base AS (SELECT w.window_start, r.col, r.bin, r.n_ref
         FROM ref_bins r CROSS JOIN wins w),
joined AS (
  SELECT COALESCE(b.window_start, c.window_start) AS window_start,
         COALESCE(b.col, c.col) AS col,
         COALESCE(b.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
  FROM base b FULL OUTER JOIN cur_bins c
    ON c.window_start = b.window_start AND c.col = b.col AND c.bin = b.bin
),
probs AS (
  SELECT window_start, col,
    CAST(n_ref AS DOUBLE)
      / greatest(CAST(SUM(n_ref) OVER (PARTITION BY window_start, col)
                      AS DOUBLE), 1e-12) AS p_ref,
    CAST(n_cur AS DOUBLE)
      / greatest(CAST(SUM(n_cur) OVER (PARTITION BY window_start, col)
                      AS DOUBLE), 1e-12) AS p_cur
  FROM joined
)
SELECT CAST(window_start AS DATE) AS window_start, col AS column_name,
       round(sqrt(0.5 * SUM(power(sqrt(p_ref) - sqrt(p_cur), 2))), 6)
         AS hellinger
FROM probs GROUP BY 1, 2
"""


def _hellinger_finish_select(out: DataFrame) -> DataFrame:
    return out.select(
        F.col("window_start").cast("date").alias("window_start"),
        F.col("column").alias("column_name"),
        "hellinger",
    )


@register("value_drift_hellinger_window", _HELLINGER_WINDOW_SQL)
def q_value_drift_hellinger_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.drift import (
        binned_ref_counts,
        binned_window_counts,
        stat_from_binned,
    )
    from .registry_ext11 import _PSI_COLUMNS, _psi_ref_cur

    ref, cur = _psi_ref_cur(spark, sf_dir)
    out = stat_from_binned(
        binned_ref_counts(ref, _PSI_COLUMNS),
        binned_window_counts(cur, _PSI_COLUMNS, "ts", "week"),
        method="hellinger",
    )
    return _hellinger_finish_select(out)


@register("stream_value_drift_hellinger", _HELLINGER_WINDOW_SQL)
def q_stream_value_drift_hellinger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Identical streaming drain to stream_value_drift — the SAME
    # stateful count layer — finished with the Hellinger arithmetic:
    # the proof that the panel's statistic is swappable without
    # touching streaming state.
    from ..operators.drift import (
        binned_ref_counts,
        binned_window_counts,
        stat_from_binned,
    )
    from ..sources.testdata import normalize_event_ts
    from .registry import drain_stream
    from .registry_ext11 import _PSI_COLUMNS, _psi_ref_cur

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    cur = normalize_event_ts(stream).where(
        F.col("event_type") == "view"
    ).select(
        "ts",
        (F.col("value") * F.lit(1.25)).alias("value"),
        F.col("user_id").cast("double").alias("user_id"),
    )
    counts = binned_window_counts(
        cur.withWatermark("ts", "1 hour"), _PSI_COLUMNS, "ts", "week"
    )
    name = "stream_value_drift_hellinger_counts"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    ref, _ = _psi_ref_cur(spark, sf_dir)
    out = stat_from_binned(
        binned_ref_counts(ref, _PSI_COLUMNS),
        spark.table(name),
        method="hellinger",
    )
    return _hellinger_finish_select(out)


# ---------------------------------------------------------------------------
# similarity_topk_pq_stored_filtered — FILTERED vector search over the
# WRITE-TIME code store (r9): the store persists filterable attributes
# next to the codes (write_pq_encoded(attr_cols=["label"])), so a
# "top-k similar WHERE label = 1" is a pushed parquet predicate on the
# code store itself — no join back to the corpus, composing with cell
# partition pruning (tests/test_pq_stored.py pins PushedFilters AND
# the embedding-free ReadSchema). Oracle: the shared PQ ADC arithmetic
# restricted to label=1 rows.
# ---------------------------------------------------------------------------


def _pq_stored_filtered_sql() -> str:
    from .registry_ext12 import (
        _PQ_K,
        _pq_adc,
        _pq_cte_block,
        _pq_dt_ctes,
        _pq_joins,
    )

    return f"""
WITH {_pq_cte_block()},
{",".join(_pq_dt_ctes())}
SELECT vec_id, round(adc, 6) AS adc_dist FROM (
  SELECT a0.vec_id, {_pq_adc()} AS adc
  FROM a0 {_pq_joins()}
  WHERE a0.vec_id <> 0
    AND a0.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 1))
ORDER BY adc, vec_id LIMIT {_PQ_K}
"""


@register("similarity_topk_pq_stored_filtered", _pq_stored_filtered_sql())
def q_similarity_topk_pq_stored_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import similarity
    from .registry_ext12 import _PQ_K, _PQ_KS, _PQ_M

    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks_pinned(emb, m=_PQ_M, ks=_PQ_KS)
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    path = _tmp_table_path(sf_dir, "pqstorefilt")
    similarity.write_pq_encoded(emb, cbs, path, attr_cols=["label"])
    return similarity.pq_adc_topk_stored(
        spark,
        path,
        qvec,
        cbs,
        k=_PQ_K,
        exclude_id=0,
        candidate_filter=F.col("label") == 1,
    ).withColumn("adc_dist", F.round("adc_dist", 6))


# ---------------------------------------------------------------------------
# txnlog_optimize_where — Delta's OPTIMIZE ... WHERE (r9): bin-packing
# scoped to the files whose stats envelope may match the predicate.
# Twelve single-bucket small files (two per 5-day bucket); OPTIMIZE
# WHERE bucket BETWEEN 4 AND 5 packs exactly the four in-scope files
# into one and re-references the other eight untouched — files_after
# and files_rewritten are arithmetic facts the oracle states as
# literals, and the content aggregate proves the scoped rewrite lost
# nothing.
# ---------------------------------------------------------------------------

_OPTIMIZE_WHERE_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       CAST(9 AS BIGINT) AS files_after,
       CAST(4 AS BIGINT) AS files_rewritten
FROM events
GROUP BY event_type
"""


@register("txnlog_optimize_where", _OPTIMIZE_WHERE_SQL)
def q_txnlog_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.txnlog import TxnTable

    path = _tmp_table_path(sf_dir, "txnoptwhere")
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "user_id",
        F.least(
            F.floor((F.dayofmonth("ts") - 1) / 5).cast("long"),
            F.lit(5).cast("long"),
        ).alias("bucket"),
    )
    t = TxnTable(spark, path, stats_columns=["bucket", "value"])
    for b in range(6):  # two small single-bucket files per bucket
        for half in (0, 1):
            t.append(
                ev.where(
                    (F.col("bucket") == b)
                    & (F.col("user_id") % 2 == half)
                ).drop("user_id").coalesce(1),
                batch_id=f"{b}-{half}",
            )
    rep = t.optimize(
        target_bytes=1 << 30,  # everything is 'small': scope decides
        where=[("bucket", "between", (4, 5))],
    )
    assert rep["files_rewritten"] == 4 and rep["files_kept"] == 8
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .withColumn("files_after", F.lit(len(t.files())).cast("long"))
        .withColumn(
            "files_rewritten", F.lit(rep["files_rewritten"]).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# value_drift_categorical — the CATEGORICAL form of the binned family
# (r9): Evidently runs chi2 / TVD on category frequencies directly, so
# _binned_counts(bin_width=None) keys by the raw (string) value — no
# numeric cast, no bins. Fixture: event_type frequencies of the first
# half of the month vs the second. One row: chi2 + dof (exact) and the
# categorical TVD; the Wilson–Hilferty p_approx stays pinned in unit
# tests (same posture as value_drift_chi2).
# ---------------------------------------------------------------------------

_CAT_DRIFT_SQL = """
WITH pooled AS (
  SELECT event_type AS v,
         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS is_ref,
         CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS is_cur
  FROM events WHERE event_type IS NOT NULL
),
counts AS (
  SELECT v AS bin, SUM(is_ref) AS n_ref, SUM(is_cur) AS n_cur
  FROM pooled GROUP BY 1
),
tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts),
j AS (SELECT * FROM counts, tot),
stat AS (
  SELECT SUM(CASE WHEN n_ref + n_cur > 0 THEN
      power(n_ref - (n_ref + n_cur) * CAST(t_ref AS DOUBLE) / (t_ref + t_cur), 2)
        / ((n_ref + n_cur) * CAST(t_ref AS DOUBLE) / (t_ref + t_cur))
      + power(n_cur - (n_ref + n_cur) * CAST(t_cur AS DOUBLE) / (t_ref + t_cur), 2)
        / ((n_ref + n_cur) * CAST(t_cur AS DOUBLE) / (t_ref + t_cur))
      ELSE 0.0 END) AS chi2,
    CAST(COUNT(*) - 1 AS DOUBLE) AS dof,
    0.5 * SUM(abs(CAST(n_ref AS DOUBLE)
                  / greatest(CAST(t_ref AS DOUBLE), 1e-12)
                  - CAST(n_cur AS DOUBLE)
                    / greatest(CAST(t_cur AS DOUBLE), 1e-12))) AS tvd
  FROM j
)
SELECT round(chi2, 4) AS chi2, CAST(dof AS BIGINT) AS dof,
       round(tvd, 6) AS tvd
FROM stat
"""


@register("value_drift_categorical", _CAT_DRIFT_SQL)
def q_value_drift_categorical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.drift import (
        _binned_counts,
        chi2_from_counts,
        tvd_from_counts,
    )

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.dayofmonth("ts") <= 15).select("event_type")
    cur = ev.where(F.dayofmonth("ts") > 15).select("event_type")
    counts = _binned_counts(ref, cur, "event_type", None)  # ONE pass
    c = chi2_from_counts(counts).select(
        F.round("chi2", 4).alias("chi2"), "dof"
    )
    t = tvd_from_counts(counts).select(F.round("tvd", 6).alias("tvd"))
    return c.crossJoin(t)


# ---------------------------------------------------------------------------
# classification_scores_by_segment — SLICING ANALYSIS (r9): the four
# classification scores per segment (event_type), one grouped
# conditional-agg pass — "which cohort is the model failing on?", the
# standard follow-up to a global score drop. Same deterministic scored
# fixture as classification_scores; zero_division=0 semantics.
# ---------------------------------------------------------------------------

_SEG_SCORES_SQL = """
WITH scored AS (
  SELECT event_type AS segment,
         CAST(value > 50 AS INT) AS churn,
         CAST(value + (user_id % 7) > 50 AS INT) AS churn_prediction
  FROM events
),
cm AS (
  SELECT segment,
    CAST(SUM(CASE WHEN churn = 1 AND churn_prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
    CAST(SUM(CASE WHEN churn <> 1 AND churn_prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
    CAST(SUM(CASE WHEN churn = 1 AND churn_prediction <> 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
    CAST(SUM(CASE WHEN churn <> 1 AND churn_prediction <> 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tn,
    COUNT(*) AS n
  FROM scored GROUP BY segment
),
s AS (
  SELECT segment, n, (tp + tn) / n AS accuracy,
         CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS prec,
         CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS rec
  FROM cm
)
SELECT segment, CAST(n AS BIGINT) AS n, accuracy,
       prec AS "precision", rec AS recall,
       CASE WHEN prec + rec = 0 THEN 0.0
            ELSE 2.0 * prec * rec / (prec + rec) END AS f1score
FROM s
"""


@register("classification_scores_by_segment", _SEG_SCORES_SQL)
def q_classification_scores_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import quality

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.col("event_type").alias("seg"),
        (F.col("value") > 50).cast("int").alias("churn"),
        ((F.col("value") + F.col("user_id") % 7) > 50)
        .cast("int")
        .alias("churn_prediction"),
    )
    return quality.classification_scores_by_segment(scored, "seg")
