"""Session-start environment probes, logged as test output — the r9
verdict's #5 ask made standing: each round, re-check whether the two
environment-gated capabilities became available, so the suite's
disclosed skips are re-probed evidence, not stale assumptions.

* delta-spark on the classpath -> would flip ``Catalog.fmt`` and arm the
  real-Delta MERGE gates (``test_state_io.py``).
* a Kafka broker on localhost:9092 -> would wire ``kafka_json_reader``
  into the multihop streaming gate (S7's live half).

The test always PASSES — its value is the printed probe record (pytest
-rA / the driver log); a capability appearing is surfaced as a warning,
because neither gate un-skips by itself.
"""

from __future__ import annotations

import importlib.util
import socket


def _delta_on_classpath() -> bool:
    import glob
    import os

    from pyspark import __path__ as p

    return bool(glob.glob(os.path.join(p[0], "jars", "*delta*"))) or (
        importlib.util.find_spec("delta") is not None
    )


def _kafka_broker_reachable(host: str = "localhost", port: int = 9092) -> bool:
    try:
        with socket.create_connection((host, port), timeout=0.5):
            return True
    except OSError:
        return False


def test_environment_probes_logged(capsys):
    probes = {
        "delta_on_classpath": _delta_on_classpath(),
        "kafka_broker_9092": _kafka_broker_reachable(),
    }
    with capsys.disabled():
        print(f"\n[env probes] {probes}")
    # delta/kafka have no automatic un-skip — a True here is an action
    # item (flip Catalog.fmt / wire kafka_json_reader). Surface it as a
    # WARNING, not a failure: an unrelated local service on :9092 or a
    # transitive jar is environment drift, not a product regression.
    if probes["delta_on_classpath"] or probes["kafka_broker_9092"]:
        import warnings

        warnings.warn(
            "environment capability appeared — arm the gated tests: "
            f"{probes} (see SCALE.md §7 / streaming/sources.py)",
            stacklevel=1,
        )
