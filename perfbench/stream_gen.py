"""Open-loop generator: one process, one thread, a fixed schedule.

File ``k`` is due at ``start + k / rate``. The generator sleeps until it
is due, writes it under a hidden name (the file source skips names
starting with ``.``) and renames it into ``--dir`` as
``due-{k:06d}-{due_ns}.parquet``, so the name carries the time it was due.
It never waits for the system under test, so a stall in the sink shows
as freshness, not as a slower schedule. How late each file landed is
written to ``--late-log`` when the schedule ends.

    python3 perfbench/stream_gen.py --dir D --seed 1 --rate 10 \
        --records-per-file 200 --start 1700000000.0 --files 120 --late-log L
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pyarrow.parquet as pq

from inputs import StreamFiles


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="files per second")
    ap.add_argument("--records-per-file", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--late-log", required=True)
    args = ap.parse_args()

    files = StreamFiles(args.seed, args.records_per_file)
    late = []
    for k in range(args.files):
        table = files.table(k)  # content is precomputed before the due time
        due = args.start + k / args.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(args.dir, f".f{k:06d}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(args.dir, f"due-{k:06d}-{int(due * 1e9)}.parquet"))
        late.append(time.time() - due)
    with open(args.late_log, "w", encoding="utf-8") as f:
        json.dump(late, f)


if __name__ == "__main__":
    main()
