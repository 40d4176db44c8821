"""Structured Streaming: the compiled validator runs unchanged on a stream;
windowed violation aggregation matches the batch equivalent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaschva_spark import commit, streaming
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table

SF = "/root/testdata/sf0.001"

EVENT_SCHEMA = {
    "event_id": "integer",
    "user_id": "integer",
    "event_type": {"$enum": ["click", "error", "purchase", "signup"]},  # 'view' missing on purpose
    "value": {"$number": {"min": 0, "max": 400}},
    "props": "string",
    "ts": "any",  # timestamps validate as 'any' (no date type in the schema language)
}


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # file stream sources need a directory; stage the single parquet file
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_stream_validation_matches_batch(spark, events_dir):
    batch = spark.read.parquet(f"{SF}/events.parquet")
    stream = streaming.read_stream(spark, events_dir, batch.schema)
    assert stream.isStreaming

    validated = validate_table(stream, EVENT_SCHEMA)
    q = streaming.run_to_memory_sink(
        validated.select("event_id", PASS_COL, F.size(VIOLATIONS_COL).alias("nv")),
        "stream_validated",
    )
    assert q.awaitTermination(120)  # False = timed-out drain, sink incomplete
    got = {r["event_id"]: (r[PASS_COL], r["nv"]) for r in spark.table("stream_validated").collect()}

    expected_df = validate_table(batch, EVENT_SCHEMA)
    exp = {
        r["event_id"]: (r[PASS_COL], len(r[VIOLATIONS_COL]))
        for r in expected_df.select("event_id", PASS_COL, VIOLATIONS_COL).collect()
    }
    assert got == exp
    assert any(not v[0] for v in got.values())  # 'view' events violate the enum


def test_windowed_violation_counts(spark, events_dir):
    batch = spark.read.parquet(f"{SF}/events.parquet")
    stream = streaming.read_stream(spark, events_dir, batch.schema)
    validated = validate_table(stream, EVENT_SCHEMA)
    counts = streaming.windowed_violation_counts(validated, "ts", "1 hour", "2 hours")
    q = streaming.run_to_memory_sink(counts, "stream_counts", output_mode="complete")
    assert q.awaitTermination(120)  # False = timed-out drain, sink incomplete
    got = spark.table("stream_counts").collect()
    assert len(got) > 0
    # cross-check totals against batch
    batch_total = (
        validate_table(batch, EVENT_SCHEMA)
        .select(F.explode(VIOLATIONS_COL).alias("v"))
        .count()
    )
    assert sum(r["n"] for r in got) == batch_total


def test_stateful_violation_totals_accumulates(spark, tmp_path):
    """applyInPandasWithState: totals accumulate across restarts via the
    checkpoint (two availableNow drains over a growing directory)."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    batch = spark.read.parquet(f"{SF}/events.parquet").limit(200)
    batch.write.mode("overwrite").parquet(str(src / "b1"))

    schema = spark.read.parquet(str(src / "b1")).schema

    sink = str(tmp_path / "sink")

    def drain(name):
        stream = streaming.read_stream(spark, str(src) + "/*", schema)
        validated = validate_table(stream, EVENT_SCHEMA)
        totals = streaming.stateful_violation_totals(validated, key_col="event_type")
        q = (
            totals.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)  # False = timed-out drain, sink incomplete
        # latest emission per key = the running totals
        rows = spark.read.parquet(sink).collect()
        latest = {}
        for r in rows:
            if r["key"] not in latest or r["n_rows_total"] > latest[r["key"]]["n_rows_total"]:
                latest[r["key"]] = r
        return latest

    first = drain("stateful_1")
    assert sum(r["n_rows_total"] for r in first.values()) == 200

    # second batch arrives; state carries the first batch's totals
    batch.write.mode("overwrite").parquet(str(src / "b2"))
    second = drain("stateful_2")
    assert sum(r["n_rows_total"] for r in second.values()) == 400
    for k, r in second.items():
        assert r["n_rows_total"] == 2 * first[k]["n_rows_total"]
        assert r["n_violations_total"] == 2 * first[k]["n_violations_total"]


def test_stateful_state_store_is_rocksdb(spark, tmp_path):
    """The 10^8-key feasibility claim of the stateful operators requires
    OFF-HEAP state: the default HDFS-backed provider keeps every key
    on-heap and would OOM long before that. Assert the session profile
    engages RocksDB AND that a checkpoint actually materializes RocksDB
    changelog artifacts (not the HDFS provider's .delta files)."""
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
        "RocksDBStateStoreProvider"
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    batch = spark.read.parquet(f"{SF}/events.parquet").limit(50)
    batch.write.mode("overwrite").parquet(str(src / "b1"))
    schema = spark.read.parquet(str(src / "b1")).schema
    stream = streaming.read_stream(spark, str(src) + "/*", schema)
    validated = validate_table(stream, EVENT_SCHEMA)
    totals = streaming.stateful_violation_totals(validated, key_col="event_type")
    q = (
        totals.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    state_files = [p.name for p in (ckpt / "state").rglob("*") if p.is_file()]
    assert any(n.endswith((".changelog", ".zip")) for n in state_files), state_files
    assert not any(n.endswith(".delta") for n in state_files), state_files


def test_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "dedup_src"
    src.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["same", "same", "other", "same"],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:00:30",
                 "2026-01-01 00:01:00", "2026-01-01 00:02:00"]
            ).astype("datetime64[us]"),  # Spark rejects NANOS parquet
        }
    ).to_parquet(src / "p0.parquet")
    stream = streaming.read_stream(
        spark, str(src), spark.read.parquet(str(src / "p0.parquet")).schema
    )
    deduped = streaming.dedup_stream(stream, "text", "ts", watermark="10 minutes")
    q = streaming.run_to_memory_sink(deduped, "dedup_stream_t")
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.table("dedup_stream_t").collect())
    assert got == [1, 3]  # all 'same' re-arrivals inside the horizon dropped


def test_windowed_drift_chi2_stream_matches_closed_form(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "drift_src"
    src.mkdir()
    rows = (
        [("en", "2026-01-01 00:00:05")] * 6
        + [("fr", "2026-01-01 00:00:10")] * 4
        + [("zz", "2026-01-01 00:00:20")] * 2  # unseen in baseline
        + [("en", "2026-01-01 00:01:10")] * 5  # second window, pure en
    )
    pd.DataFrame(
        {"lang": [r[0] for r in rows],
         "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]")}
    ).to_parquet(src / "p0.parquet")
    baseline = {"en": 0.5, "fr": 0.5}
    stream = streaming.read_stream(
        spark, str(src), spark.read.parquet(str(src / "p0.parquet")).schema
    )
    drifted = streaming.windowed_drift_chi2(stream, "ts", "lang", baseline, "1 minute")
    q = streaming.run_to_memory_sink(drifted, "drift_chi2_t", output_mode="complete")
    q.awaitTermination()
    got = {r["window"]["start"].minute: r for r in spark.table("drift_chi2_t").collect()}
    # window 0: covered n=10, o_en=6, o_fr=4 -> chi2 = (6-5)^2/5 + (4-5)^2/5 = 0.4
    assert got[0]["n_rows"] == 12 and got[0]["n_unseen"] == 2
    assert got[0]["chi2"] == pytest.approx(0.4, abs=1e-6)
    # window 1: n=5 all en -> chi2 = (5-2.5)^2/2.5 + (0-2.5)^2/2.5 = 5.0
    assert got[1]["chi2"] == pytest.approx(5.0, abs=1e-6)


def test_windowed_drift_chi2_null_category_counts_as_unseen(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "drift_null_src"
    src.mkdir()
    rows = [("en", "2026-01-01 00:00:05")] * 5 + [(None, "2026-01-01 00:00:10")] * 5
    pd.DataFrame(
        {"lang": [r[0] for r in rows],
         "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]")}
    ).to_parquet(src / "p0.parquet")
    stream = streaming.read_stream(
        spark, str(src), spark.read.parquet(str(src / "p0.parquet")).schema
    )
    drifted = streaming.windowed_drift_chi2(stream, "ts", "lang", {"en": 1.0}, "1 minute")
    q = streaming.run_to_memory_sink(drifted, "drift_chi2_null_t", output_mode="complete")
    q.awaitTermination()
    row = spark.table("drift_chi2_null_t").collect()[0]
    # NULL categories are unseen, NOT part of the covered mass: the covered
    # distribution is 5 'en' of expected 5 -> chi2 exactly 0
    assert row["n_rows"] == 10 and row["n_unseen"] == 5
    assert row["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_incremental_validation_sink(spark, tmp_path):
    from yaschva_spark.engine import validate_table
    from yaschva_spark.fixtures import CODE_SCHEMA, code_files

    src = tmp_path / "inc_src"
    src.mkdir()
    code = code_files(spark, 3000, seed=21)
    # three source files -> three micro-batches at maxFilesPerTrigger=1
    for i in range(3):
        code.filter(
            F.pmod(F.abs(F.xxhash64("commit", "path")), F.lit(3)) == i
        ).coalesce(1).write.mode("append").parquet(str(src))
    out = tmp_path / "inc_out"
    stream = streaming.read_stream(
        spark, str(src), code.schema, max_files_per_trigger=1
    )
    q = streaming.incremental_validation_sink(stream, CODE_SCHEMA, str(out))
    q.awaitTermination()

    man = spark.read.parquet(str(out / "manifest"))
    viol = spark.read.parquet(str(out / "violations"))
    batch_ids = sorted(r["batch_id"] for r in man.select("batch_id").collect())
    assert len(batch_ids) == len(set(batch_ids)) >= 2  # one manifest row per batch
    # totals equal the batch engine over the same data
    ref = validate_table(code, CODE_SCHEMA)
    assert man.agg(F.sum("n_rows")).collect()[0][0] == code.count()  # incl. injected dupes
    assert (
        man.agg(F.sum("n_violations")).collect()[0][0]
        == ref.agg(F.sum(F.size("yv_violations"))).collect()[0][0]
    )
    assert viol.count() == ref.agg(F.sum(F.size("yv_violations"))).collect()[0][0]
    # violations carry their batch lineage
    assert set(r["batch_id"] for r in viol.select("batch_id").distinct().collect()) <= set(batch_ids)


def test_incremental_sink_replay_is_idempotent(spark, tmp_path):
    from yaschva_spark.fixtures import CODE_SCHEMA, code_files

    src = tmp_path / "replay_src"
    src.mkdir()
    code = code_files(spark, 500, seed=22)
    code.coalesce(1).write.mode("append").parquet(str(src))
    out = tmp_path / "replay_out"
    stream = streaming.read_stream(spark, str(src), code.schema)
    q = streaming.incremental_validation_sink(stream, CODE_SCHEMA, str(out))
    q.awaitTermination()
    n_man = spark.read.parquet(str(out / "manifest")).count()
    n_viol = spark.read.parquet(str(out / "violations")).count()
    # a second drain over the SAME checkpoint replays nothing
    stream2 = streaming.read_stream(spark, str(src), code.schema)
    q2 = streaming.incremental_validation_sink(stream2, CODE_SCHEMA, str(out))
    q2.awaitTermination()
    assert spark.read.parquet(str(out / "manifest")).count() == n_man
    assert spark.read.parquet(str(out / "violations")).count() == n_viol
    # FORCED replay of a committed batch (the guard itself, called
    # directly): same stream id -> skipped, nothing appended
    same = streaming.make_batch_validator(
        CODE_SCHEMA, str(out), stream_id=str(out / "_checkpoint")
    )
    same(code, 0)
    assert spark.read.parquet(str(out / "manifest")).count() == n_man
    assert spark.read.parquet(str(out / "violations")).count() == n_viol
    # a DIFFERENT checkpoint colliding on a committed batch_id must fail
    # loudly, not silently drop the batch
    other = streaming.make_batch_validator(CODE_SCHEMA, str(out), stream_id="elsewhere")
    with pytest.raises(RuntimeError, match="diverged"):
        other(code, 0)


def test_incremental_sink_clean_stream_leaves_readable_violations(spark, tmp_path):
    from yaschva_spark.fixtures import code_files

    src = tmp_path / "clean_src"
    src.mkdir()
    # a schema everything passes: no violation rows at all
    code = code_files(spark, 300, seed=23)
    code.coalesce(1).write.mode("append").parquet(str(src))
    out = tmp_path / "clean_out"
    q = streaming.incremental_validation_sink(
        streaming.read_stream(spark, str(src), code.schema),
        {"repo": "any", "path": "any", "commit": "any", "lang": "any", "content": "any"},
        str(out),
    )
    q.awaitTermination()
    assert spark.read.parquet(str(out / "manifest")).count() >= 1
    viol = commit.read_violations(spark, str(out))  # must not throw
    assert viol.count() == 0
    assert "rule" in viol.columns and "field_path" in viol.columns
