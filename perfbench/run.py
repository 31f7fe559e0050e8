"""Crawl benchmark: one workload run, one JSON result line on stdout.

    python3 perfbench/run.py --workload crawl_thin --seed 1 --seconds 10 --trace 0

Run from the repository root. The crawl itself runs in a child process (a
fresh Python interpreter and JVM per run) with PYTHONPATH set to the root;
this process samples the child's process tree for peak memory (PSS), kills
whatever the child leaves behind, and prints the result. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` its per-layer ones (Spark event log on), and the spans are
kept in ``.perfbench_work/spans-<workload>-<seed>.json``. Exit status is 1
when any output check failed and 2 when the repository is not there to
benchmark. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

CHILD_TIMEOUT_S = 165


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) of every process."""
    out: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), fields[19])
    return out


def _tree(root: int) -> dict[int, str]:
    """pid -> start time of root and all its descendants."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between the forked
    Python workers count once over the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler(threading.Thread):
    """Samples the summed PSS of a process tree; remembers every pid seen
    so that processes orphaned by the child can still be stopped."""

    def __init__(self, root: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period_s = root, period_s
        self.peak_b, self.pids = 0, {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = _tree(self.root)
            self.pids.update(pids)
            self.peak_b = max(self.peak_b, sum(_pss(p) for p in pids))
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _started(pid: int) -> str | None:
    """Start time of a live (not zombie) process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_all(pids: dict[int, str], pgid: int) -> None:
    """Kill the child's process group and every process seen in its tree
    (matched by pid and start time), then wait until none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    mine = [p for p, start in pids.items() if _started(p) == start]
    for pid in mine:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while any(_started(p) == pids[p] for p in mine) and time.time() < deadline:
        time.sleep(0.05)


def run_child(args, workdir: str) -> tuple[dict, int]:
    out = os.path.join(workdir, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(workdir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.makedirs(env["TMPDIR"])
    cmd = [sys.executable, os.path.join(HERE, "crawl.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace), "--workdir", workdir, "--out", out]
    with open(os.path.join(workdir, "child.log"), "w") as log:
        # setup_s counts from here: process start, JVM, world, bootstrap()
        cmd += ["--started", repr(time.time())]
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop()
            stop_all(sampler.pids, proc.pid)
            proc.wait()
    if not os.path.exists(out):
        with open(os.path.join(workdir, "child.log")) as fh:
            tail = fh.read()[-3000:]
        return {"crashed": f"child exited {proc.returncode}\n{tail}"}, 0
    with open(out) as fh:
        return json.load(fh), sampler.peak_b


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def declared_metrics() -> dict[str, list[dict]]:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {"end_to_end": spec["end_to_end"], "per_layer": spec["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="nominal run length; the crawl's work is fixed (a "
                         "cold epoch, then two resumed ones), takes longer "
                         "than this and does not depend on it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("bitextor_spark") or not os.path.isfile("BENCHMARK.json"):
        print("run from the repository root: bitextor_spark/ and "
              "BENCHMARK.json must be there", file=sys.stderr)
        return 2
    declared = declared_metrics()

    workdir = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    ticks0 = _cpu_ticks()
    try:
        res, peak_b = run_child(args, workdir)
        spans = os.path.join(workdir, "spans.json")
        if os.path.exists(spans):
            # the traced run's spans outlive the run's other files
            os.replace(spans, os.path.join(
                ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(".perfbench_work")
        except OSError:
            pass

    # the share of CPU time the hypervisor gave to other guests: on a shared
    # VM it, not the program, is what makes runs of the same code differ
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    steal = delta[7] / max(sum(delta), 1)
    print(f"cpu steal share during the run: {steal:.3f}", file=sys.stderr)
    if "crashed" in res:
        print(res["crashed"], file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    for err in res["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    correct = not res["errors"] and res["failed"] == 0

    wall = {
        "wall.crawl_urls_per_s": res["attempts"] / res["crawl_wall_s"],
        "wall.epoch_s_p50": res["epoch_s_p50"],
        "wall.resume_s": res["resume_s"],
    }
    # the wall-clock view of the crawl, for the reader: it follows the host's
    # load (see perfbench/README.md, "Stability"), so it is not end-to-end
    print("wall: " + ", ".join(f"{k[5:]} {v:.3f}" for k, v in wall.items()),
          file=sys.stderr)
    print("timeline (s): " + ", ".join(
        f"{k} {v:.1f}" for k, v in res["timeline_s"].items()), file=sys.stderr)
    if args.trace:
        values = {**res["per_layer"], **wall, "host.cpu_steal_share": steal}
        specs = declared["per_layer"]
    else:
        values = {
            "crawl_cpu_ms_per_url": 1000 * res["crawl_cpu_s"] / res["attempts"],
            "epoch_cpu_s": res["epoch_cpu_s"],
            "resume_cpu_s": res["resume_cpu_s"],
            "setup_s": res["setup_s"],
            "peak_rss_mb": peak_b / 2**20,
        }
        specs = declared["end_to_end"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs
    }
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
