"""One cold pipeline run, the way an analyst runs the CLI.

Run as a fresh process by ``run.py``: imports the package, builds the
session with ``get_session``, runs one trivial job (set-up ends there),
then calls the ``cli`` stage functions in ``cli.main``'s order on
arguments parsed by ``cli.build_parser()``. Writes a JSON record to the
``--result`` path: set-up and pipeline wall, per-stage outcome, peak RSS.

With ``--trace`` each CLI stage and each layer function in ``LAYERS``
runs inside a span that also sets its own Spark job group, so the event
log (switched on from outside through PYSPARK_SUBMIT_ARGS) attributes
every job to the innermost span that launched it.

    python3 perfbench/pipeline.py --result r.json --trace -- \\
        2020-01-15 --pings p.parquet --dim d.parquet --out o --gen-tables
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import time
import traceback

# layer (package module) -> the functions cli imports from it that the
# ledger reports on; each is wrapped under the name cli calls it by
LAYERS = {
    "plans.mobility": ["extract_day", "with_cells", "locate_pings",
                       "night_presence_scores", "daily_home_winners",
                       "attach_home"],
    "operators.colocation": ["colocation_edges"],
    "operators.components": ["connected_components_star",
                             "impute_neighbour_frequency_labels"],
    "plans.contact_matrix": ["contact_prob_table", "probs_to_matrix"],
    "operators.graphs": ["scale_sizes", "sample_nodes", "write_graphml"],
    "operators.seir": ["run_gillespie_sweep"],
    "sources.io": ["write_matrix_npy"],
}
STAGES = ["gen_tables", "prob_matrix", "build_network", "seir_sweep"]


class Tracer:
    """In-memory spans; each span is also the Spark job group of the jobs
    launched inside it (restored to the enclosing span's group on exit)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(f"{name}#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(
                None if parent is None else f"{self.spans[parent]['name']}#{parent}"
            )

    def _set_group(self, group):
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def wrap(self, module, attr: str, layer: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(f"{layer}.{attr}", **_span_attrs(attr, args, kwargs)):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def _span_attrs(attr: str, args, kwargs) -> dict:
    """Cheap counts taken at the call boundary (no Spark work)."""
    if attr == "run_gillespie_sweep":
        seeds = kwargs["seeds"] if "seeds" in kwargs else args[3]
        return {"edges": len(args[2]), "seeds": len(seeds)}
    return {}


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus its JVM child, in MiB."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def run(cli_argv: list[str], trace: bool, t_launch: float,
        setup_only: bool = False) -> dict:
    tracer = Tracer()
    from epiteam_network_etl_functions_spark import cli

    rec: dict = {"stages": {}, "spans": tracer.spans}
    with (tracer.span("session.get_session") if trace else contextlib.nullcontext()):
        spark = cli.get_session("epiteam-etl-spark-cli")
    tracer.sc = spark.sparkContext
    with (tracer.span("session.first_job") if trace else contextlib.nullcontext()):
        spark.range(1).count()
    rec["setup_s"] = time.time() - t_launch
    if setup_only:
        spark.stop()
        return rec
    if trace:
        for layer, names in LAYERS.items():
            for name in names:
                tracer.wrap(cli, name, layer)

    args = cli.build_parser().parse_args(cli_argv)
    os.makedirs(args.out, exist_ok=True)
    state = {"tables": None, "probs": None, "nodes": None, "edges": None}
    calls = {
        "gen_tables": lambda: state.update(tables=cli.gen_tables(spark, args)),
        "prob_matrix": lambda: state.update(
            probs=cli.prob_matrix(spark, args, state["tables"])),
        "build_network": lambda: state.update(dict(zip(
            ("nodes", "edges"),
            cli.build_network(spark, args, state["tables"], state["probs"])))),
        "seir_sweep": lambda: cli.seir_sweep(spark, args, state["nodes"], state["edges"]),
    }
    wanted = {"gen_tables": args.gen_tables, "prob_matrix": args.prob_matrix,
              "build_network": args.build_network, "seir_sweep": args.seir}
    t0 = time.time()
    for stage in STAGES:
        if not wanted[stage]:
            continue
        t = time.time()
        try:
            with (tracer.span(f"cli.{stage}") if trace else contextlib.nullcontext()):
                calls[stage]()
            rec["stages"][stage] = {"ok": True}
        except (Exception, SystemExit) as e:  # a failed stage is a result
            traceback.print_exc()
            rec["stages"][stage] = {"ok": False, "error": repr(e)[:500]}
        rec["stages"][stage]["wall_s"] = time.time() - t
    rec["pipeline_s"] = time.time() - t0
    rec["peak_rss_mb"] = peak_rss_mb(spark)
    rec["cores"] = spark.sparkContext.defaultParallelism
    spark.stop()
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--setup-only", action="store_true",
                    help="stop once the session is ready (a set-up sample)")
    ap.add_argument("--t-launch", type=float, default=None,
                    help="wall clock when the parent launched this process")
    ap.add_argument("cli_argv", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    t_launch = a.t_launch if a.t_launch is not None else time.time()
    argv = a.cli_argv[1:] if a.cli_argv[:1] == ["--"] else a.cli_argv
    rec = run(argv, a.trace, t_launch, a.setup_only)
    with open(a.result, "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    main()
