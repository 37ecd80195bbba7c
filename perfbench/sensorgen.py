"""Open-loop generator of FIXTURES.md §4 sensor events, as JSON-lines files.

Run as its own process by the ``sensor_stream`` workload:

    python3 perfbench/sensorgen.py --out DIR --seed N --start EPOCH --files K

File ``k`` is due at ``start + k * INTERVAL_S`` and is written then, late
or not: the schedule never waits for the consumer. Every event carries
its file's due time as ``created_at``, so lag is timed from when the
event was due. Each file is written under a hidden name and renamed into
place, so the stream source never reads half a file. On exit the process
prints one JSON line: files written and how late each finished.

The events of file ``k`` depend only on the seed and ``k``; their event
times are offsets from the due time. Half carry ``sensor_ts``, half the
older ``ts`` ISO-8601 variant; 8 % are ph/chlorine anomalies (still
valid), some are out of order, a few are later than the Gold hop's
2-minute watermark, and about 1 % break a Silver validity range.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime, timezone

import numpy as np

INTERVAL_S = 0.2
EVENTS_PER_FILE = 200
N_POOLS = 6
# Silver validity ranges (FIXTURES.md §4).
VALID = {
    "ph": (0.0, 14.0), "chlorine_mg_l": (0.0, 10.0), "temp_c": (-5.0, 60.0),
    "turbidity_ntu": (0.0, 200.0), "water_level_pct": (0.0, 100.0),
}


def events(seed: int, k: int) -> list[dict]:
    """File ``k``'s events, each with ``age_s``: how long before the due
    time its event time lies."""
    rng = np.random.default_rng([seed, k])
    n = EVENTS_PER_FILE
    anomaly = rng.random(n) < 0.08
    ph = np.where(anomaly, rng.uniform(5.5, 9.5, n), rng.uniform(7.1, 7.8, n))
    cl = np.where(anomaly, rng.uniform(0.0, 5.0, n), rng.uniform(0.4, 1.5, n))
    u = rng.random(n)
    age = np.where(u < 0.005, rng.uniform(150.0, 240.0, n),  # beyond the watermark
                   np.where(u < 0.10, rng.uniform(1.0, 20.0, n),  # out of order
                            rng.uniform(0.0, INTERVAL_S, n)))
    broken = rng.integers(0, 3, n)
    bad = rng.random(n) < 0.01
    out = []
    for i in range(n):
        ev = {
            "event_id": k * n + i, "pool_id": int(rng.integers(1, N_POOLS + 1)),
            "ph": round(float(ph[i]), 3), "chlorine_mg_l": round(float(cl[i]), 3),
            "temp_c": round(float(rng.uniform(18, 30)), 2),
            "turbidity_ntu": round(float(rng.uniform(0.2, 2.0)), 3),
            "water_level_pct": round(float(rng.uniform(70, 100)), 2),
            "pump_kwh_est": None if rng.random() < 0.05 else round(float(rng.uniform(0, 0.6)), 3),
            "variant": "sensor_ts" if rng.random() < 0.5 else "ts",
            "age_s": float(age[i]),
        }
        if bad[i]:
            if broken[i] == 0:
                ev["ph"] = 14.5
            elif broken[i] == 1:
                ev["water_level_pct"] = 104.0
            else:
                ev["variant"] = None  # no event time at all
        out.append(ev)
    return out


def is_valid(ev: dict) -> bool:
    """Whether Silver keeps ``ev``: an event time and every range met."""
    return ev["variant"] is not None and all(lo <= ev[c] <= hi for c, (lo, hi) in VALID.items())


def render(ev: dict, due: float) -> str:
    """``ev`` as the JSON line the producer would send at ``due``."""
    body = {k: v for k, v in ev.items() if k not in ("variant", "age_s")}
    body["created_at"] = due
    t = datetime.fromtimestamp(due - ev["age_s"], tz=timezone.utc)
    if ev["variant"] == "sensor_ts":
        body["sensor_ts"] = t.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    elif ev["variant"] == "ts":
        body["ts"] = t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return json.dumps(body)


def write_file(out: str, seed: int, k: int, due: float) -> None:
    name = f"part-{k:06d}.json"
    tmp = os.path.join(out, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(render(ev, due) for ev in events(seed, k)) + "\n")
    os.rename(tmp, os.path.join(out, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="open-loop sensor event generator")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="due time of the first file (epoch s)")
    ap.add_argument("--first", type=int, default=0, help="index of the first file")
    ap.add_argument("--files", type=int, required=True)
    args = ap.parse_args(argv)

    due, done = [], []
    for i in range(args.files):
        d = args.start + i * INTERVAL_S
        wait = d - time.time()
        if wait > 0:
            time.sleep(wait)
        write_file(args.out, args.seed, args.first + i, d)
        due.append(d)
        done.append(time.time())
    print(json.dumps({"files": args.files, "due": due, "done": done}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
