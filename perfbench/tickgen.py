"""Open-loop tick feed: lands one frame file every INTERVAL seconds, on a
fixed schedule, by hard-linking files of a pre-built pool into the watched
directory under fresh names.  A link is atomic, so the stream never sees a
half-written file.  The schedule never waits for the consumer: a stalled
consumer leaves files piling up, and a generator that falls behind lands
the next file at once and records how late it was.

Single-threaded, standard library only, one JSON line per landed file:

    python3 perfbench/tickgen.py --out DIR --count N --interval SECONDS \
        --start EPOCH_S --log FILE --pool FILE [FILE ...]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def run(pool: list[str], out_dir: str, count: int, interval: float, start: float,
        log_path: str) -> None:
    with open(log_path, "w") as log:
        for k in range(count):
            due = start + k * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            src = pool[k % len(pool)]
            dst = os.path.join(out_dir, f"ticks-{k:06d}.parquet")
            os.link(src, dst)
            landed = time.time()
            log.write(json.dumps({"k": k, "path": dst, "src": src, "due": due,
                                  "landed": landed}) + "\n")
            log.flush()


def read_log(log_path: str) -> list[dict]:
    with open(log_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--pool", required=True, nargs="+", help="pre-built frame files, used in turn")
    ap.add_argument("--out", required=True, help="directory the stream watches")
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True, help="seconds between due times")
    ap.add_argument("--start", type=float, required=True, help="due time of file 0 (epoch s)")
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    run(args.pool, args.out, args.count, args.interval, args.start, args.log)


if __name__ == "__main__":
    main()
