"""Per-micro-batch data-quality gate over a replayed file stream:
``dq_verify`` runs inside ``foreachBatch`` as an admission check."""

from __future__ import annotations

import os


def _write_one(df, dest):
    import glob
    import shutil

    tmp = dest + "_t"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dq_gate_per_batch(spark, tmp_path):
    """Composition: dq_verify runs inside foreachBatch as an admission
    gate — one report per micro-batch, bad batches flagged not crashed
    (the streaming form of the reference's input validation)."""
    from churn_model_evaluation_platform_spark.operators import dq

    src = str(tmp_path / "dq_src")
    os.makedirs(src, exist_ok=True)
    good = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k int, v double")
    bad = spark.createDataFrame([(3, -1.0), (None, 2.0)], "k int, v double")
    for i, b in enumerate((good, bad)):
        dest = os.path.join(src, f"b{i}.parquet")
        _write_one(b, dest)
        os.utime(dest, (1_700_000_000 + i,) * 2)

    reports = {}

    def gate(batch_df, batch_id):
        rep = dq.dq_verify(
            batch_df, [dq.not_null("k"), dq.min_value("v", 0.0)]
        ).collect()
        reports[batch_id] = {r.check: r.status for r in rep}

    q = (
        spark.readStream.schema(good.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(gate)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert reports[0] == {"not_null": "pass", "min_value": "pass"}
    assert reports[1] == {"not_null": "fail", "min_value": "fail"}
