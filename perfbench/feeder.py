"""Open-loop load generator for ``sink_live``.

Moves the staged part files, in name order, into the watched directory on a
fixed schedule: file ``i`` is due at ``start + i / rate``. A rename within one
filesystem is atomic, so the stream never sees a partial file. The schedule
does not slow down when the system under test does. On exit it writes
``{file name: time it was actually moved}`` to ``--report``, from which the
benchmark reports how late the feeder ran.

    python3 perfbench/feeder.py --staged DIR --watched DIR --start EPOCH_S \
        --rate FILES_PER_S --report OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staged", required=True)
    ap.add_argument("--watched", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--report", required=True)
    args = ap.parse_args()

    moved: dict[str, float] = {}
    try:
        for i, name in enumerate(sorted(os.listdir(args.staged))):
            wait = args.start + i / args.rate - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(args.staged, name), os.path.join(args.watched, name))
            moved[name] = time.time()
    finally:
        with open(args.report, "w") as fh:
            json.dump(moved, fh)


if __name__ == "__main__":
    main()
