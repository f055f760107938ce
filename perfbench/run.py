"""Mobility-pipeline benchmark: cold CLI runs, one pipeline at a time.

    python3 perfbench/run.py --workload hotspot_day --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all          # every BENCHMARK.json workload

Each run builds its inputs from the seed (cached by seed and parameters
under .perfbench_work/), then launches fresh ``pipeline.py`` processes,
one at a time (a closed loop with one client in ``local[nproc]``); every
process pays a cold JVM, as the analyst's daily CLI run does. A run
measures a fixed amount of work: one pipeline process, then set-up-only
processes up to SETUP_SAMPLES set-up samples. That work takes longer
than ``--seconds`` (BENCHMARK.json's run_seconds), which is therefore a
floor the run always meets; it does not size the run. Outputs are
checked after every pipeline process.

``--trace 0`` reports the end-to-end metrics (set-up as a median over
its samples); ``--trace 1`` runs one traced process (the event log
switched on through PYSPARK_SUBMIT_ARGS), then one untraced process,
and reports the per-layer ledger plus the tracing overhead. The last
stdout line is the JSON result; lines before it are a human-readable
summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402

SETUP_SAMPLES = 2  # per untraced run: the pipeline process + set-up-only ones
RUN_DEADLINE_S = 170.0  # a run must exit within 180 s
DAY_GEN = dict(kind="day", devices=768, pings=60, lattice=256, ageb_cells=16,
               mapped=0.9, hotspots=0, zipf=1.0, roam=0.15, low_accuracy=0.1)
DAY_CLI = [gen.DAY, "--gen-tables", "--prob-matrix", "--build-network", "--seir",
           "--scale", "1000", "--seeds", "4"]
WORKLOADS = {
    "hotspot_day": {"gen": dict(DAY_GEN, hotspots=5), "cli": DAY_CLI},
    "network_restart": {
        # 1e-2 / 4e-4 at --scale 6000, scaled to keep the mean degree (~5)
        "gen": dict(kind="restart", devices=20000, blocks=200, zipf=1.0,
                    p_in=3e-2, p_out=1.2e-3),
        "cli": ["all", "--build-network", "--seir", "--scale", "2000", "--seeds", "8"],
        "ir_inputs": ("homes", "contact_probs"),
    },
    # runnable, but outside BENCHMARK.json: see NOTES.md (time budget)
    "city_day": {"gen": DAY_GEN, "cli": DAY_CLI},
}
STAGE_FLAGS = {"--gen-tables": "gen_tables", "--prob-matrix": "prob_matrix",
               "--build-network": "build_network", "--seir": "seir_sweep"}


def _cli_value(argv: list[str], flag: str, default):
    return type(default)(argv[argv.index(flag) + 1]) if flag in argv else default


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _reap_group(pgid: int) -> None:
    """Stop whatever the child left in its process group (the JVM exits on
    its own once the Python driver's pipe closes) and wait until all have ended."""
    for sig, wait_s in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        t = time.time()
        while time.time() - t < wait_s:
            if not _group_pids(pgid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} did not end")


class Runner:
    def __init__(self, workload: str, seed: int, deadline: float,
                 spec: dict | None = None):
        self.spec, self.deadline = spec or WORKLOADS[workload], deadline
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.run_dir = os.path.join(self.work, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.env = {k: v for k, v in os.environ.items()
                    if not k.startswith("SPARK_GRAFT_") and k != "PYSPARK_SUBMIT_ARGS"}
        # keep every file inside the checkout: the JVM's temp dir and its
        # hsperfdata file (always under /tmp) included
        self.env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                        SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
                        PYTHONPATH=ROOT, TMPDIR=tmp,
                        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        self.inputs = gen.materialize(self.spec["gen"], seed, os.path.join(self.work, "inputs"))
        self.n = 0

    def _cli_argv(self, out: str) -> list[str]:
        argv = list(self.spec["cli"]) + ["--out", out]
        if self.spec["gen"]["kind"] == "day":
            argv += ["--pings", os.path.join(self.inputs, "pings.parquet"),
                     "--dim", os.path.join(self.inputs, "dim.parquet")]
        else:
            os.makedirs(out)
            for name in self.spec["ir_inputs"]:
                shutil.copy(os.path.join(self.inputs, f"{name}.parquet"), out)
        return argv

    def _spawn(self, extra: list[str], env: dict) -> dict | None:
        self.n += 1
        result = os.path.join(self.run_dir, f"result{self.n}.json")
        log = os.path.join(self.run_dir, f"proc{self.n}.log")
        cmd = [sys.executable, os.path.join(HERE, "pipeline.py"), "--result", result,
               "--t-launch", repr(time.time())] + extra
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, env=env, cwd=self.run_dir, stdout=lf,
                                 stderr=subprocess.STDOUT, start_new_session=True)
            try:
                p.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                print(f"# process {self.n} timed out", file=sys.stderr)
                os.killpg(p.pid, signal.SIGKILL)
            finally:
                _reap_group(p.pid)
                p.wait()
        if p.returncode != 0 or not os.path.exists(result):
            print(f"# process {self.n} failed (exit {p.returncode}); see {log}",
                  file=sys.stderr)
            return None
        with open(result) as f:
            return json.load(f)

    def setup_only(self) -> float | None:
        rec = self._spawn(["--setup-only"], self.env)
        return rec and rec["setup_s"]

    def pipeline(self, trace: bool = False) -> dict:
        """One cold pipeline process + its output checks."""
        out = os.path.join(self.run_dir, f"out{self.n + 1}")
        argv = self._cli_argv(out)
        env, extra = dict(self.env), []
        if trace:
            log_dir = os.path.join(self.run_dir, f"eventlog{self.n + 1}")
            os.makedirs(log_dir)
            env["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell")
            extra = ["--trace"]
        rec = self._spawn(extra + ["--"] + argv, env)
        stages = [s for f, s in STAGE_FLAGS.items() if f in argv]
        cli = {"scale": _cli_value(argv, "--scale", 1000),
               "seeds": _cli_value(argv, "--seeds", 10),
               "min_accuracy": _cli_value(argv, "--min-accuracy", 100.0)}
        if rec is None:
            rec = {"stages": {}, "setup_s": None}
        ran = [s for s in stages if rec["stages"].get(s, {}).get("ok")]
        errors, facts = checks.check_run(ran, out, self.inputs, cli,
                                         self.spec.get("ir_inputs", ()))
        for s in stages:
            if s not in ran:
                errors[s] = [rec["stages"].get(s, {}).get("error", "stage did not run")]
        rec.update(errors=errors, facts=facts, attempted=len(stages),
                   failed=sum(bool(errors[s]) for s in stages))
        if trace and rec.get("spans") is not None:
            events = ledger.read_event_log(log_dir)
            rec["layers"] = ledger.layer_metrics(events, rec["spans"], rec["cores"], facts)
        shutil.rmtree(out, ignore_errors=True)
        return rec


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def run_workload(workload: str, seed: int, trace: bool, bench: dict) -> dict:
    r = Runner(workload, seed, time.time() + RUN_DEADLINE_S)
    if trace:
        # traced first: the first cold process of a run tends to be the
        # slowest, so the overhead errs high rather than low
        recs = [r.pipeline(trace=True), r.pipeline()]
        setups = []
    else:
        recs = [r.pipeline()]
        setups = [recs[0].get("setup_s")]
        setups += [r.setup_only() for _ in range(SETUP_SAMPLES - 1)]
    attempted = sum(x["attempted"] for x in recs)
    failed = sum(x["failed"] for x in recs)
    correct = (failed == 0 and None not in setups
               and all(x.get("setup_s") is not None for x in recs))
    for i, x in enumerate(recs):
        for stage, errs in x["errors"].items():
            for e in errs:
                print(f"# run {i + 1} {stage}: {e}", file=sys.stderr)

    if trace:
        want = bench["per_layer"]
        traced, base = recs
        values = dict(traced.get("layers") or {})
        values["process.peak_rss_mb"] = traced.get("peak_rss_mb")
        if base.get("pipeline_s") is not None and traced.get("pipeline_s") is not None:
            values["trace.overhead_s"] = traced["pipeline_s"] - base["pipeline_s"]
    else:
        want = bench["end_to_end"]
        ok = [x for x in recs if x.get("pipeline_s") is not None]
        values = {
            "setup_s": _median(setups),
            "pipeline_s": _median(x["pipeline_s"] for x in ok),
            "out_mb": _median(x["facts"]["out_total_bytes"] / ledger.MB for x in ok),
        }
    metrics = {}
    for m in want:
        v = values.get(m["name"])
        if v is None:
            correct = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"== {workload} seed={seed} trace={int(trace)}: {len(recs)} pipeline "
          f"process(es), {len([s for s in setups if s is not None])} set-up samples")
    for i, x in enumerate(recs):
        walls = " ".join(f"{k}={v['wall_s']:.2f}" for k, v in x["stages"].items())
        match = x["facts"].get("home_match_ratio")
        print(f"  process {i + 1}: setup_s={x.get('setup_s') or 0:.2f} {walls}"
              + ("" if match is None else f" home_match_ratio={match:.4f}"))
    if not trace:
        for m in want:
            if m["name"] in metrics:
                print(f"{m['name']:>18} {metrics[m['name']]['value']:12.4f} {m['unit']}")
        rss = _median(x.get("peak_rss_mb") for x in recs)
        if rss is not None:
            print(f"{'peak_rss_mb':>18} {rss:12.4f} MB (not bounded: it does not "
                  "repeat within a tenth, see NOTES.md)")
    print(f"{'stage_fail_ratio':>18} {failed / max(attempted, 1):12.4f} "
          f"({failed}/{attempted} stage calls)")
    if correct:  # keep the logs of a failed run for inspection
        shutil.rmtree(r.run_dir, ignore_errors=True)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description="mobility-pipeline benchmark")
    ap.add_argument("--workload", required=True,
                    help=f"one of {sorted(WORKLOADS)}, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="not used to size a run: a run measures a fixed amount "
                         "of work, which exceeds BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "epiteam_network_etl_functions_spark", "cli.py")):
        print(f"error: the package is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload == "all":
        res = {w["name"]: run_workload(w["name"], a.seed, bool(a.trace), bench)
               for w in bench["workloads"]}
        for name in sorted(set(WORKLOADS) - set(res)):
            print(f"== {name}: not run (outside BENCHMARK.json: the 3,420 s budget "
                  "of a full pass fits two cold-JVM workloads, see NOTES.md)")
        print(json.dumps(res))
        return 0
    if a.workload not in WORKLOADS:
        print(f"error: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    print(json.dumps(run_workload(a.workload, a.seed, bool(a.trace), bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
