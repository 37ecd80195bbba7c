"""Spark-side plumbing shared by the workloads: the per-run scratch area,
session start through the engine's public ``get_spark``, cache release
between operations, Spark's status store (REST ``/api/v1``) counters,
and the host canaries recorded as run diagnostics."""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
import urllib.request

from common import jvm_pid, peak_rss_mb

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
MASTER = "local[4]"


class Scratch:
    """A run's private directory inside the checkout, removed on close.

    Everything the run writes — inputs, lake root, checkpoints, Spark
    local dirs, the JVM's temp files — lands here."""

    def __init__(self) -> None:
        base = os.path.join(CHECKOUT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.path("tmp")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        tempfile.tempdir = self.tmp
        # Collected timestamps become naive datetimes in the process time
        # zone; UTC matches the session zone and the DuckDB checks.
        os.environ["TZ"] = "UTC"
        time.tzset()
        # Python workers import the engine from the checkout, whatever
        # the working directory (the variable is inherited at JVM launch).
        paths = [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def keep_spans(self, tracer, args) -> str:
        """Write the traced run's spans where the run's cleanup keeps them."""
        out = os.path.join(CHECKOUT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.spans.jsonl")
        tracer.dump(path)
        return os.path.relpath(path, CHECKOUT)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass


def start_session(scratch: Scratch):
    """A fresh engine session on ``local[4]``; the first call launches the JVM."""
    from smartpool_bigdata_spark.session import get_spark

    java_opts = " ".join([
        f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH_DIR, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={scratch.tmp}",
        f"-Dderby.system.home={scratch.tmp}",
        "-XX:-UsePerfData",
        # A fixed-size heap, touched at launch: peak RSS then does not
        # depend on how many operations a run got through before the
        # collector had touched every heap page.
        "-Xms2g",
        "-XX:+AlwaysPreTouch",
    ])
    confs = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": scratch.path("spark-local"),
        "spark.sql.warehouse.dir": scratch.path("warehouse"),
        "spark.sql.shuffle.partitions": "8",
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(app_name="perfbench", master=MASTER, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def release_caches(spark) -> None:
    """Drop every persisted frame so no operation reads another's cache."""
    from smartpool_bigdata_spark.ops.text import release_signature_caches

    release_signature_caches()
    spark.catalog.clearCache()


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rss_mb() -> float:
    """Peak RSS of this Python process plus its JVM child."""
    pids = [os.getpid()]
    j = jvm_pid(os.getpid())
    if j is not None:
        pids.append(j)
    return peak_rss_mb(pids)


_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")
_UNITS = {None: 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric_value(text: str) -> float:
    """A SQL-metric display value ("12.5 MiB", "1,024", or the
    "total (min, med, max ...)" form) as a number."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _SIZE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


STAGE_FIELDS = {
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.input_bytes": "inputBytes",
    "spark.output_bytes": "outputBytes",
}
PY_METRICS = {
    "python.bytes_sent": "data sent to Python workers",
    "python.bytes_received": "data returned from Python workers",
}
PY_NODE = re.compile(r"Python|Pandas|Arrow")


class StatusStore:
    """Counters from Spark's status store via its REST API,
    restricted to the jobs, stages and SQL executions of a window."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> dict:
        self._drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        sql = self._get("/sql?offset=0&length=1000000&details=false")
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": max((e["id"] for e in sql), default=-1),
        }

    def window(self, since: dict) -> dict:
        """Totals over everything submitted after ``since``."""
        self._drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > since["job"]]
        stages = [s for s in self._get("/stages") if s["stageId"] > since["stage"]]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        }
        for name, fld in STAGE_FIELDS.items():
            out[name] = sum(s[fld] for s in stages)
        execs = [e for e in self._get("/sql?offset=0&length=1000000&details=true&planDescription=true")
                 if e["id"] > since["sql"]]
        py = {k: 0.0 for k in PY_METRICS}
        py["python.rows_received"] = 0.0
        exchanges = smj = 0
        for e in execs:
            plan = e.get("planDescription", "")
            exchanges += len(re.findall(r"(?<![A-Za-z])Exchange\b", plan))
            smj += len(re.findall(r"\bSortMergeJoin\b", plan))
            for node in e.get("nodes", []):
                if not PY_NODE.search(node.get("nodeName", "")):
                    continue
                for m in node.get("metrics", []):
                    for key, label in PY_METRICS.items():
                        if m["name"] == label:
                            py[key] += parse_metric_value(m["value"])
                    if m["name"] == "number of output rows":
                        py["python.rows_received"] += parse_metric_value(m["value"])
        out.update(py)
        out["plan.exchanges"] = exchanges
        out["plan.sort_merge_joins"] = smj
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) from the frame's QueryExecution
    tracker; forces physical planning so all three phases are present."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def canaries(spark) -> dict[str, float]:
    """Host speed canaries (diagnostics, not metrics): a codegen'd
    shuffle aggregate on the JVM and an Arrow round-trip through Python."""
    from pyspark.sql import functions as F

    def jvm():
        noop_write(spark.range(5_000_000).select(
            (F.col("id") % 9973).alias("k"), (F.col("id") % 131).alias("v")
        ).groupBy("k").agg(F.sum("v"), F.count(F.lit(1))))

    def arrow():
        def bump(it):
            for pdf in it:
                pdf["id"] = pdf["id"] * 2 + 1
                yield pdf

        noop_write(spark.range(1_000_000).repartition(4).mapInPandas(bump, schema="id long"))

    out = {}
    for name, fn in (("canary_jvm_s", jvm), ("canary_arrow_s", arrow)):
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
