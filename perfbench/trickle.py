"""Load generator for the stream_trickle workload.

Runs as its own process, outside the engine's process tree. It lands one
parquet file of EVENTS tp2 events (5 per payload) in the input directory
at a due time fixed before it starts writing, without waiting for the
engine. The file is written under a hidden name and renamed into place,
so the engine never sees a partial file. Each event's collector
timestamp is the due time; the file name carries the due time and the
event count:

    f<seq>_<due_ms>_<n_events>.parquet

On exit it writes a JSON report: the expected outcome, the file landed
and how late the generator ran.

    python3 trickle.py --dir IN --seed 1 --report R.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen

EVENTS_PER_PAYLOAD = 5
EVENTS = 100


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()

    g = gen.TrackerGen(a.seed, geo=False)
    exp = gen.Expect()
    due = time.time() + 0.2
    print(f"ready {due:.6f}", flush=True)
    time.sleep(max(0.0, due - time.time()))
    due_ms = int(due * 1000)
    msgs = [g.tp2(exp, EVENTS_PER_PAYLOAD, collector_ms=due_ms)
            for _ in range(EVENTS // EVENTS_PER_PAYLOAD)]
    name = f"f000000_{due_ms}_{EVENTS}.parquet"
    tmp = os.path.join(a.dir, "." + name)
    pq.write_table(pa.table({"value": pa.array(msgs, pa.binary())}), tmp)
    os.rename(tmp, os.path.join(a.dir, name))
    lag = time.time() - due
    with open(a.report, "w") as f:
        json.dump({"files": [name], "lag_max_s": lag,
                   "events": exp.events, "records": exp.records}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
