"""CLI runner: ingest -> silver -> query subcommands drive the same engine
paths in-process (getOrCreate reuses the test session)."""

from __future__ import annotations

import os

from smartpool_bigdata_spark.runner import main
from tests.conftest import SF_DIR


def test_runner_ingest_silver_query(spark, tmp_path, capsys):
    root = str(tmp_path / "lake")
    src = os.path.join(SF_DIR, "events.parquet")
    assert main([
        "ingest", "--root", root, "--source", src,
        "--name", "events", "--ts-col", "ts", "--pk-col", "event_id",
    ]) == 0
    out = capsys.readouterr().out
    assert '"ingested": true' in out

    assert main([
        "silver", "--root", root, "--name", "events",
        "--keys", "event_id", "--order-desc", "ts",
    ]) == 0
    out = capsys.readouterr().out
    assert '"table": "silver.events"' in out
    assert os.path.isdir(os.path.join(root, "silver", "events"))

    assert main(["query", "--name", "ingest_watermark", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert '"rows": 1' in out

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary" in out

