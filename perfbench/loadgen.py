#!/usr/bin/env python3
"""Open-loop load generator for the stream_ingest workload.

Single-threaded. For each offered rate, for each second of its step, it
writes one JSON-lines file holding that second's events and renames it into
the inbox (atomic: the file source never sees a partial file). Each event's
`ts` is its due time, spread evenly over its second; rows cycle through the
seed's `events` table with fresh, sequential `event_id`s.

Files are renamed half a second after their last event is due, so the
rename never races the stream's whole-second trigger ticks.

Usage: loadgen.py EVENTS_PARQUET INBOX SUMMARY_JSON STEP_SECONDS RATE...
The summary records every file (rate, due time, rename time, ids) so the
caller can compute latency, backlog and generator lag.
"""
import datetime as dt
import json
import os
import sys
import time

import pyarrow.parquet as pq


def main():
    events, inbox, summary, step_s = sys.argv[1:5]
    rates = [int(r) for r in sys.argv[5:]]
    step_s = int(step_s)
    rows = pq.read_table(events, columns=["user_id", "event_type", "value"])
    users = rows.column("user_id").to_pylist()
    types = rows.column("event_type").to_pylist()
    values = rows.column("value").to_pylist()
    n = len(users)
    tmp = os.path.join(os.path.dirname(os.path.abspath(inbox)), "loadgen-tmp")
    os.makedirs(tmp, exist_ok=True)
    files = []
    next_id = 0
    # second 0 starts on the next whole second, plus a lead to prepare
    t0 = float(int(time.time()) + 2)
    k = 0
    for rate in rates:
        for _ in range(step_s):
            start = t0 + k
            lines = []
            for j in range(rate):
                due = start + (j + 0.5) / rate
                i = (next_id + j) % n
                stamp = dt.datetime.fromtimestamp(due, dt.timezone.utc)
                lines.append(
                    '{"event_id":%d,"user_id":%d,"event_type":"%s",'
                    '"value":%r,"ts":"%s"}' % (
                        next_id + j, users[i], types[i], values[i],
                        stamp.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"))
            name = f"part-{k:05d}.json"
            path = os.path.join(tmp, name)
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            scheduled = start + 1.5
            delay = scheduled - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(path, os.path.join(inbox, name))
            files.append({"rate": rate, "start": start, "scheduled": scheduled,
                          "renamed": time.time(), "first_id": next_id,
                          "count": rate})
            next_id += rate
            k += 1
    with open(summary, "w") as f:
        json.dump({"files": files, "events": next_id}, f)


if __name__ == "__main__":
    main()
