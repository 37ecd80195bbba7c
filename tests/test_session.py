"""Unit tests for the session factory (no JVM needed — builder confs only)."""

import os

from smartpool_bigdata_spark.session import _default_local_driver_mem, session_builder


def _conf_map(builder):
    # SparkSession.Builder keeps pending confs in ._options (public API gives
    # no getter pre-getOrCreate); tolerate a rename by failing loudly.
    return dict(builder._options)


def test_local_master_sizes_driver_heap():
    confs = _conf_map(session_builder(master="local[32]"))
    # local[N] = driver and all executor threads share one JVM; the 1g
    # spark-submit default starves 32 concurrent tasks (~13 MB each) and
    # OOMs spill-merges. The factory must size the heap — to half of
    # physical RAM clamped to [1g, 8g], so small CI hosts still launch.
    assert confs.get("spark.driver.memory") == _default_local_driver_mem()
    mb = int(confs["spark.driver.memory"].rstrip("m"))
    assert 1024 <= mb <= 8192


def test_default_driver_mem_clamps(monkeypatch):
    import smartpool_bigdata_spark.session as S

    page = 4096
    vals = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (4 * 2**30) // page}
    monkeypatch.setattr(S.os, "sysconf", lambda k: vals[k])
    assert S._default_local_driver_mem() == "2048m"  # half of 4 GiB
    vals["SC_PHYS_PAGES"] = (256 * 2**30) // page
    assert S._default_local_driver_mem() == "8192m"  # capped
    vals["SC_PHYS_PAGES"] = (1 * 2**30) // page
    assert S._default_local_driver_mem() == "1024m"  # floored

    def boom(_):
        raise OSError("no sysconf")

    monkeypatch.setattr(S.os, "sysconf", boom)
    assert S._default_local_driver_mem() == "8192m"  # fallback = old cap


def test_cluster_master_leaves_driver_heap_alone():
    confs = _conf_map(session_builder(master="yarn"))
    # On a real cluster spark-submit owns executor/driver sizing.
    assert "spark.driver.memory" not in confs


def test_explicit_driver_memory_wins():
    confs = _conf_map(
        session_builder(master="local[4]", extra_confs={"spark.driver.memory": "2g"})
    )
    assert confs["spark.driver.memory"] == "2g"


DAEMON = "spark.python.daemon.module"


def test_local_master_runs_engine_worker_daemon(monkeypatch):
    import smartpool_bigdata_spark.session as S

    root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    confs = _conf_map(session_builder(master="local[4]"))
    assert confs[DAEMON] == "smartpool_bigdata_spark.pyworker_daemon"
    # A cluster master keeps Spark's daemon; a caller's choice wins.
    assert DAEMON not in _conf_map(session_builder(master="yarn"))
    explicit = session_builder(master="local[4]", extra_confs={DAEMON: "pyspark.daemon"})
    assert _conf_map(explicit)[DAEMON] == "pyspark.daemon"


def test_worker_daemon_needs_package_on_worker_path(monkeypatch, tmp_path):
    """Workers that cannot import the daemon module would fail every
    Python task, so the daemon is chosen only when the package is on the
    path the workers get: the JVM's working directory or PYTHONPATH."""
    import smartpool_bigdata_spark.session as S

    root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    assert DAEMON not in _conf_map(session_builder(master="local[4]"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert DAEMON in _conf_map(session_builder(master="local[4]"))
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.setenv("PYTHONSAFEPATH", "1")  # python -m then skips the cwd
    assert DAEMON not in _conf_map(session_builder(master="local[4]"))


def test_autotune_scale_conf():
    from smartpool_bigdata_spark.session import autotune_scale_conf

    stats = [
        # hot key owns 30% of a 10M-row table, 1000 keys -> salt
        {"table_name": "events", "n_rows": 10_000_000, "n_keys": 1_000,
         "max_key_rows": 3_000_000},
        # uniform: max ~= mean -> aqe
        {"table_name": "orders", "n_rows": 10_000_000, "n_keys": 1_000_000,
         "max_key_rows": 15},
        # small dim -> broadcast candidate
        {"table_name": "customer", "n_rows": 50_000, "n_keys": 50_000,
         "max_key_rows": 1},
    ]
    out = autotune_scale_conf(stats, total_cores=4000)
    confs, advice = out["confs"], out["advice"]
    assert int(confs["spark.sql.shuffle.partitions"]) >= 3 * 4000
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert advice["events"]["skew_strategy"] == "salt"
    assert advice["events"]["salt_buckets"] == 64  # capped
    assert advice["orders"]["skew_strategy"] == "aqe"
    assert not advice["orders"]["broadcast"]
    assert advice["customer"]["broadcast"]
    assert advice["customer"]["skew_strategy"] == "aqe"


def test_autotune_consistent_with_advisor_query(spark):
    """The scale_conf_advisor gate query and autotune_scale_conf must
    agree on the salt/aqe verdict when the tuner runs at the advisory
    reference parallelism (the query's fixed 32-partition budget) —
    the SQL row is the distributed half, the tuner the driver half."""
    from smartpool_bigdata_spark.queries import REGISTRY
    from smartpool_bigdata_spark.queries_ingest import _ADVISOR_PARTS
    from smartpool_bigdata_spark.session import autotune_scale_conf
    from tests.conftest import SF_DIR

    rows = [
        r.asDict()
        for r in REGISTRY["scale_conf_advisor"]
        .build(spark, SF_DIR)
        .collect()
    ]
    # pin the tuner's partition count to the advisory budget by sizing
    # cores so by_cores == _ADVISOR_PARTS and the size term can't exceed
    # it (tiny sf0.001 input)
    out = autotune_scale_conf(
        rows, total_cores=_ADVISOR_PARTS // 3 or 1, bytes_per_row=1
    )
    shuffle_parts = int(out["confs"]["spark.sql.shuffle.partitions"])
    for r in rows:
        rpp = max(1, int(r["n_rows"]) // _ADVISOR_PARTS)
        tuner_rpp = max(1, int(r["n_rows"]) // shuffle_parts)
        got = out["advice"][r["table_name"]]
        # verdicts agree whenever the partition budgets agree
        if rpp == tuner_rpp:
            assert got["skew_strategy"] == r["skew_strategy"], r
        assert got["broadcast"] == (r["join_side"] == "broadcast"), r
