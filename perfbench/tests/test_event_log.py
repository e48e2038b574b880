"""The event-log parser on a tiny real Spark job."""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

import spans  # noqa: E402


def test_parse_tiny_job(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    event_dir = tmp_path / "events"
    event_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(event_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        tr = spans.Tracer(spark.sparkContext)
        with tr.span("outer"):
            with tr.span("inner"):
                groups = (
                    spark.range(0, 1000, 1, 4)
                    .groupBy((F.col("id") % 10).alias("k"))
                    .count()
                    .count()
                )
            assert groups == 10
    finally:
        spark.stop()
    files = os.listdir(event_dir)
    assert len(files) == 1 and not files[0].endswith(".inprogress")
    log = spans.parse_event_log(str(event_dir / files[0]))
    assert len(log["jobs"]) >= 1
    assert all(j["ok"] for j in log["jobs"].values())
    per = spans.attribute(log, tr.spans)
    inner = next(s["id"] for s in tr.spans if s["name"] == "inner")
    # every job ran inside the inner span, with its id as job group
    assert per[inner]["jobs"] == len(log["jobs"])
    assert all(j["group"] == inner for j in log["jobs"].values())
    # 4 map tasks + 3 reduce tasks, and the exchange wrote shuffle bytes
    assert per[inner]["tasks"] >= 7
    assert per[inner]["shuffle_write_mb"] > 0
    assert per[inner]["failed_tasks"] == 0
    assert per[inner]["cpu_s"] > 0
