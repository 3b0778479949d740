"""Open-loop release process for ``orders_live``.

Moves pre-built files from ``--stage`` into the watched ``--watch``
directory, file ``i`` (after ``--skip``) at ``t0 + i / rate``: rename
first, then set the file's mtime to its due time.  It never waits for
the stream, so a slow consumer builds a backlog instead of slowing the
input.  Prints one JSON list of ``{name, due, released}`` on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True, help="files per second")
    ap.add_argument("--skip", type=int, default=0)
    ap.add_argument("--count", type=int, required=True)
    args = ap.parse_args()
    names = sorted(f for f in os.listdir(args.stage) if f.endswith(".parquet"))
    names = names[args.skip: args.skip + args.count]
    log = []
    for i, name in enumerate(names):
        due = args.t0 + i / args.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(args.watch, name)
        os.rename(os.path.join(args.stage, name), dst)
        os.utime(dst, (due, due))
        log.append({"name": name, "due": due, "released": time.time()})
    print(json.dumps(log))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
