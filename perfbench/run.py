#!/usr/bin/env python3
"""Benchmark launcher for vcf2parquet_spark.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 25 --trace 0

Run from the repository root.  The launcher:

* sizes Spark to the host: ``SPARK_GRAFT_CPUS`` from the usable cores
  and ``SPARK_DRIVER_MEM`` from the host's memory (the engine's default
  24g heap pin cannot start on a small host), without changing the
  engine's session code;
* keeps everything the run writes — tables, inputs, Spark's shuffle and
  temp files, JVM crash files — under ``perfbench/.work`` and removes
  it at the end; spans of a traced run go to ``perfbench/out``;
* runs ``workload.py`` in its own process and samples the resident
  memory of it, the JVM and the Python workers (``peak_rss_mb``);
* stops every process the run started, and fails without a result if
  the run does not finish in time.

Standard output carries only metric output: one line of run details
(host shape, sample counts, filesystems) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``.  Everything else goes
to standard error.
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
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170          # the whole run, JVM start included
SAMPLE_EVERY_S = 0.2


def meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def heap_mb(total_mb: int) -> int:
    """Driver heap: a sixteenth of host memory, within 1-4 GiB.  The
    benchmark's tables are a few MB to tens of MB; the heap only has to
    hold shuffle and collect buffers, and the host may be shared."""
    return max(1024, min(4096, total_mb // 16))


def filesystem(path: str) -> str:
    """Type of the filesystem holding ``path`` (longest mount prefix)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, fstype = mnt, typ
    return f"{fstype} ({best})"


def proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields[19])
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeWatcher:
    """Samples the summed RSS of a process and all its descendants, and
    remembers every descendant it saw so they can be stopped at the end
    even after they were re-parented."""

    def __init__(self, root_pid: int) -> None:
        self.root = root_pid
        self.seen: dict[int, str] = {}
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree(self) -> list[int]:
        table = proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            if p in table:
                out.append(p)
                self.seen.setdefault(p, table[p][1])
            todo.extend(kids.get(p, ()))
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(rss_kb(p) for p in self.tree()))
            self._stop.wait(SAMPLE_EVERY_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def alive(self) -> list[int]:
        table = proc_table()
        return [p for p, st in self.seen.items()
                if p in table and table[p][1] == st]

    def kill_all(self) -> None:
        """SIGTERM, then SIGKILL, every process of the run still alive;
        returns once none is left."""
        for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
            for p in self.alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + grace
            while self.alive() and time.time() < end:
                time.sleep(0.1)
            if not self.alive():
                return


def keep_crash_files(work: str) -> None:
    """Move JVM crash reports out of the work dir before it is removed."""
    crashes = [f for f in os.listdir(work) if f.startswith("hs_err_pid")]
    if crashes:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        for f in crashes:
            shutil.move(os.path.join(work, f), os.path.join(out, f))
            print(f"perfbench: JVM crash report kept as perfbench/out/{f}",
                  file=sys.stderr)


def _interrupted(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def main() -> int:
    # a SIGTERM must still stop the run's processes (finally below)
    signal.signal(signal.SIGTERM, _interrupted)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "vcf2parquet_spark",
                                       "__init__.py")):
        print(f"perfbench: no vcf2parquet_spark package under {ROOT}; "
              f"run from a checkout of the repository", file=sys.stderr)
        return 2
    if not 1 <= args.seconds <= 600:
        print("perfbench: --seconds must be 1..600", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    total_mb = meminfo_mb("MemTotal")
    heap = heap_mb(total_mb)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-"
                                       f"{os.getpid()}")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap}m",
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH")
                            else [])),
        "TMPDIR": tmp,
        # JVM temp files and crash reports stay in the work dir
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-XX:ErrorFile={work}/hs_err_pid%p.log"),
    })
    host = {"cores": cores, "mem_total_mb": total_mb,
            "mem_available_mb": meminfo_mb("MemAvailable"),
            "driver_heap_mb": heap,
            "table_fs": filesystem(work), "shuffle_fs": filesystem(local),
            "python": sys.version.split()[0]}

    cmd = [sys.executable, "-u", os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores), "--result", result_path]
    t0 = time.time()
    try:
        # stdout of the worker, the JVM and the Python workers goes to
        # our stderr: only the lines printed below reach standard output
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                stdin=subprocess.DEVNULL)
        watch = TreeWatcher(proc.pid)
        watch.start()
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S}s; stopping it",
                  file=sys.stderr)
            rc = None
        finally:
            watch.stop()
            watch.tree()
            watch.kill_all()
            proc.wait()
        wall = time.time() - t0
        if rc != 0:
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return 3
        with open(result_path) as f:
            out = json.load(f)
    finally:
        keep_crash_files(work)
        shutil.rmtree(work, ignore_errors=True)
    result = out["result"]
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": watch.peak_kb / 1024,
                                            "unit": "MB"}
    details = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "run_wall_s": wall, "host": host, **out["details"]}
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except KeyboardInterrupt as e:
        print(f"perfbench: interrupted ({e}); run stopped", file=sys.stderr)
        sys.exit(130)
