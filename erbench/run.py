"""Benchmark of the dedupe engine: ``run_pipeline`` throughput and the ER
document leaves, with a per-layer trace.

    python3 erbench/run.py --workload pipeline_mem --seed 1 --seconds 24 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` alternates untraced and traced repetitions and
prints the per-layer metrics, a per-layer table, and writes the spans and
the row funnel to ``.erbench/trace-<workload>-seed<seed>.json``. The last
line of standard output is always the JSON result. See erbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".erbench"
CORES = 4
DRIVER_MEMORY = "3g"
RSS_POLL_S = 0.2


class HostProbe:
    """Noise diagnostics (load average, CPU steal) and the peak resident
    set of this process and all its descendants (JVM, Python workers)."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    @staticmethod
    def _steal_ticks() -> int:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if len(fields) > 8 else 0

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))
            self._stop.wait(RSS_POLL_S)

    def start(self) -> "HostProbe":
        self.load1_start = os.getloadavg()[0]
        self._steal0 = self._steal_ticks()
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        return {
            "host.load1_start": self.load1_start,
            "host.load1_end": os.getloadavg()[0],
            "host.steal_s": (self._steal_ticks() - self._steal0)
            / os.sysconf("SC_CLK_TCK"),
        }


def confine_temp(workdir: Path) -> None:
    """Keep Spark's and Python's scratch files inside the run directory."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    tempfile.tempdir = None


def start_session(workdir: Path, jvm_options: str = ""):
    from go_dedupe_spark.session import get_spark

    spark = get_spark("erbench", cores=CORES, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData {jvm_options}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def print_layer_table(metrics: dict[str, float]) -> None:
    print(f"{'layer metric':<44} {'value':>16}")
    for name, value in metrics.items():
        print(f"{name:<44} {value:>16.6g}")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "go_dedupe_spark" / "plans" / "pipeline.py").is_file():
        print(f"erbench: no go_dedupe_spark sources under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    bench_json = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench_json["workloads"]}:
        print(f"erbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    workdir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    confine_temp(workdir)
    import workloads

    probe = HostProbe().start()
    try:
        t0 = time.monotonic()
        spark = start_session(
            workdir, workloads.JVM_OPTIONS.get(args.workload, ""))
        start_s = time.monotonic() - t0
        try:
            out = workloads.WORKLOADS[args.workload](
                spark, args.seed, args.seconds, bool(args.trace), workdir)
            cores = spark.sparkContext.defaultParallelism
        finally:
            stop_session(spark)
    finally:
        host = probe.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    host["spark.cores"] = float(cores)
    print(json.dumps({"diagnostics": host, "gate": out.gate, "notes": out.notes}))
    if args.trace:
        values = {m["name"]: 0.0 for m in bench_json["per_layer"]}
        values.update(out.per_layer)
        values.update(host)
        values["session.start_s"] = start_s
        values["peak_rss_mb"] = probe.peak_kb / 1024.0
        print_layer_table(values)
        trace_file = WORK / f"trace-{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps(out.trace, indent=1))
        print(f"erbench: spans and funnel written to {trace_file.relative_to(ROOT)}")
    else:
        values = {
            "files_per_s": out.files_per_s,
            "setup_s": start_s + out.setup_s,
            "pairwise_f1": out.pairwise_f1,
        }
    declared = bench_json["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    metrics = {name: {"value": float(v), "unit": units[name]}
               for name, v in values.items()}
    print(json.dumps({"correct": out.correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
