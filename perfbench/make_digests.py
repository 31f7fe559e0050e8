"""Write (or check) the stored reference digests of every workload world.

Each reference is an uninterrupted crawl of the ``N_EPOCHS`` epochs of a
run by one engine: the digest of every epoch's fetch log and of the
URL-seen set after every epoch. A benchmark run, which stops the crawl and
resumes it with a new engine, must reproduce it exactly.

    PYTHONPATH=. python3 perfbench/make_digests.py             # write, local[4]
    PYTHONPATH=. python3 perfbench/make_digests.py --check --master 'local[1]' \
        --workload crawl_thin --variants 0

``--check`` compares with ``digests.json`` instead of writing it and exits
1 on any difference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crawl import (load_digests, log_digests, make_world, seen_digest,  # noqa: E402
                   start_session)
from workloads import CORES, N_EPOCHS, N_VARIANTS, WORKLOADS, world_seed  # noqa: E402

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--variants", type=int, nargs="*",
                    default=list(range(N_VARIANTS)))
    ap.add_argument("--master", default=f"local[{CORES}]")
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    from bitextor_spark.frontier.engine import FrontierEngine

    workdir = os.path.abspath(os.path.join(".perfbench_work",
                                           f"digests-{os.getpid()}"))
    os.makedirs(os.path.join(workdir, "tmp"))
    spark = start_session("digests", workdir, False, master=args.master)
    stored = load_digests()
    bad = 0
    try:
        for name in args.workload or sorted(WORKLOADS):
            wl = WORKLOADS[name]
            for v in args.variants:
                dfs = make_world(spark, wl, v)
                root = os.path.join(workdir, f"catalog-{name}-{v}")
                try:
                    eng = FrontierEngine(spark, wl.crawl_config(), root,
                                         dfs["pages"], dfs["robots"], dfs["seeds"])
                    eng.bootstrap()
                    seen = []
                    for _ in range(N_EPOCHS):
                        eng.run_epoch()
                        seen.append(seen_digest(eng))
                    eng.flush_pending_metrics()
                    got = log_digests(eng, N_EPOCHS)
                    got["seen"] = [d for d, _ in seen]
                    got["seen_rows"] = [n for _, n in seen]
                finally:
                    spark.catalog.clearCache()
                    shutil.rmtree(root, ignore_errors=True)
                key = str(world_seed(v))
                if args.check:
                    same = stored.get(name, {}).get(key) == got
                    bad += not same
                    print(f"{name} world {key}: {'same' if same else 'DIFFERENT'}",
                          flush=True)
                else:
                    stored.setdefault(name, {})[key] = got
                    print(f"{name} world {key}: rows {got['rows']} "
                          f"seen {got['seen_rows']}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    if not args.check:
        with open(PATH, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
