"""Trade-event generator for the trade_ingest workload: one process, one
thread.  It lands the backlog files at once, writes ``<landing>/../ready``
and then waits for the engine's go file, which holds the epoch-ms start of
the schedule.  Scheduled file i is due at start + i * interval; each file
is written under a hidden name and renamed into the landing directory, so
the file source never reads half a file.  Every landing is logged as one
JSON line (file, due_ms, landed_ms); ``done`` is written after the last.

    python3 perfbench/trades.py SEED LANDING GO DONE LOG BACKLOG SCHEDULED \
        ROWS_PER_FILE INTERVAL_MS
"""
import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixtures  # noqa: E402


def land(table, landing, name):
    tmp = os.path.join(landing, "." + name)
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(landing, name))


def main():
    seed, landing, go, done, log = sys.argv[1:6]
    backlog, scheduled, rows, interval_ms = map(int, sys.argv[6:10])
    files = fixtures.trade_files(int(seed), backlog + scheduled, rows)
    os.makedirs(landing, exist_ok=True)
    with open(log, "w") as out:
        for i in range(backlog):
            land(files[i], landing, f"trades-{i:05d}.parquet")
        open(os.path.join(os.path.dirname(landing), "ready"), "w").close()
        while not os.path.exists(go):
            time.sleep(0.01)
        time.sleep(0.01)
        with open(go) as f:
            start_ms = float(f.read())
        for j in range(scheduled):
            i = backlog + j
            due = start_ms + j * interval_ms
            wait = due / 1e3 - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"trades-{i:05d}.parquet"
            land(files[i], landing, name)
            out.write(json.dumps({"file": name, "due_ms": due,
                                  "landed_ms": time.time() * 1e3}) + "\n")
    open(done, "w").close()


if __name__ == "__main__":
    main()
