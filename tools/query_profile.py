"""Where a registered query's time goes: one CLI for timing, profiling and
plan evidence (EXPLAIN ANALYZE plus a timer, README.md:654-703 and :97-110).

Usage: python tools/query_profile.py [--sf DIR] [--runs N] [--noop] [--pair]
                                     [--plans DIR TAG] [--plans-md] name...

Default: warm each query once at the smoke fixture and once at ``--sf``,
then make N timed collects and print one JSON line per query with

- ``walls_s``: the wall of each timed run;
- ``stage_totals``: the last run's stage totals and job count;
- ``catalyst``: its analysis / optimization / planning ms;
- ``codegen``: the generated classes the timed runs compiled and their
  compile ms (a warm cache compiles none);
- ``operators``: its executed plan, every operator's nonzero metrics
  (Python-worker time and rows on ``MapInPandas`` and kin);
- ``stream``: for a streaming query, the progress of its micro-batches.

``--noop``       time the noop sink instead of a collect (every column of
                 every row, no driver-side result); walls and stage totals
                 only, since the frame's own plan does not run.
``--pair``       a warm pass, then N ABBA/BAAB rounds against the commit
                 named in BENCH_PREV_REF in one session; prints prev/cur
                 walls and the median ratio (honours ``--noop``).
``--plans DIR TAG``  write each query's formatted explain to
                 ``DIR/<name>_<TAG>.txt`` (a before/after record to diff).
``--plans-md``   rewrite PLANS.md from the executed plan of every
                 registered query at the correctness fixture.

``--sf`` defaults to the benchmark's sf0.1 tables under perfbench/data.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.join(REPO, "tests"))

from conftest import SF_CORRECT, SF_SMOKE  # noqa: E402  the test fixtures
from perfbench.probes import (  # noqa: E402
    catalyst_ms,
    make_stream_listener,
    next_job_id,
    stage_totals,
)
from tutorial_iceberg_spark.plans.explain import (  # noqa: E402
    codegen_compilations,
    explain_str,
    operator_metrics,
    plan_summary,
)
from tutorial_iceberg_spark.registry import all_queries  # noqa: E402

SF_BENCH = os.path.join(REPO, "perfbench", "data", "sf0.1")


def _act(df, noop: bool) -> None:
    if noop:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.collect()


def profile(spark, name: str, sf_dir: str, runs: int = 1, noop: bool = False) -> dict:
    """Warm ``name`` at the smoke fixture and at ``sf_dir``, then time
    ``runs`` runs and read the last one's layers (see the module doc)."""
    build = all_queries()[name].builder
    sc = spark.sparkContext
    for warm_sf in (SF_SMOKE, sf_dir):
        _act(build(spark, warm_sf), noop)
    listener = make_stream_listener(spark)
    try:
        walls = []
        compiles0, compile_ms0 = codegen_compilations(spark)
        for i in range(runs):
            listener.drain()  # keep the last run's progress only
            sc.setJobDescription(f"profile:{name}:{i}")
            first_job = next_job_id(sc)
            t0 = time.perf_counter()
            df = build(spark, sf_dir)
            _act(df, noop)
            walls.append(round(time.perf_counter() - t0, 4))
            end_job = next_job_id(sc)
            sc.setJobDescription(None)
        compiles, compile_ms = codegen_compilations(spark)
        out = {
            "query": name,
            "sf": sf_dir,
            "action": "noop" if noop else "collect",
            "walls_s": walls,
            "stage_totals": {
                "exec.jobs": end_job - first_job,
                **stage_totals(sc, first_job, end_job),
            },
            "codegen": {
                "compiles": compiles - compiles0,
                "compile_ms": round(compile_ms - compile_ms0, 3),
            },
        }
        if not noop:
            out["catalyst"] = catalyst_ms(df)
            out["operators"] = operator_metrics(df)
        progress = listener.drain()
        if progress:
            out["stream"] = progress
        return out
    finally:
        spark.streams.removeListener(listener)


def pair(spark, name: str, sf_dir: str, rounds: int, noop: bool) -> dict:
    """Prev-vs-current walls of ``name``, interleaved ABBA then BAAB in one
    session so host drift cancels in the median ratio."""
    import bench

    prev_root = bench._prev_worktree(REPO)
    if prev_root is None:
        raise SystemExit("BENCH_PREV_REF worktree unavailable")
    roots = {"prev": prev_root, "cur": REPO}
    for version in roots:  # warm both sides
        with bench._package_from(roots[version]) as specs:
            for warm_sf in (SF_SMOKE, sf_dir):
                _act(specs[name].builder(spark, warm_sf), noop)
    walls: dict[str, list[float]] = {"prev": [], "cur": []}
    for r in range(rounds):
        order = ("prev", "cur", "cur", "prev") if r % 2 == 0 else ("cur", "prev", "prev", "cur")
        for version in order:
            with bench._package_from(roots[version]) as specs:
                spark.sparkContext.setJobDescription(f"pair:{name}:{version}:{r}")
                t0 = time.perf_counter()
                _act(specs[name].builder(spark, sf_dir), noop)
                walls[version].append(round(time.perf_counter() - t0, 4))
                spark.sparkContext.setJobDescription(None)
    prev, cur = statistics.median(walls["prev"]), statistics.median(walls["cur"])
    return {
        "query": name,
        "sf": sf_dir,
        "action": "noop" if noop else "collect",
        "prev_s": walls["prev"],
        "cur_s": walls["cur"],
        "ratio": round(cur / prev, 4),
    }


def write_plans(spark, names, sf_dir: str, out_dir: str, tag: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    specs = all_queries()
    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(specs[name].builder(spark, sf_dir), "formatted"))
        print(f"# wrote {path}", file=sys.stderr)


def write_plans_md(spark, sf_dir: str) -> None:
    lines = [
        "# PLANS — physical-plan evidence (generated by "
        "`python tools/query_profile.py --plans-md`)",
        "",
        f"Source SF: `{sf_dir}`. Every registered query, read from its "
        "executed (post-AQE) plan after a collect: file scans, scans with "
        "PushedFilters, join strategies, shuffle exchanges (a reused "
        "exchange is not counted again), whole-stage codegen spans and "
        "whether any operator runs in a Python worker.",
        "",
        "| query | scans | scans w/ pushdown | broadcast joins | shuffle joins |"
        " shuffles | codegen spans | python |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details: list[str] = []
    specs = all_queries()
    for name in sorted(specs):
        df = specs[name].builder(spark, sf_dir)
        df.collect()
        s = plan_summary(df)
        lines.append(
            f"| `{name}` | {s['scans']} | {s['pushed_scans']} | {s['bhj']} "
            f"| {s['smj'] + s['shj']} | {s['exchanges']} "
            f"| {s['codegen_spans']} | {'yes' if s['python'] else 'no'} |"
        )
        det = [f"## {name}", ""]
        for i, (cols, pushed) in enumerate(s["scan_details"]):
            det.append(
                f"- scan {i}: ReadSchema {cols} column(s)"
                + (f", PushedFilters `{pushed}`" if pushed != "[]" else ", no filters")
            )
        joins = [
            f"{s[k]} {label}"
            for k, label in (
                ("bhj", "BroadcastHashJoin"),
                ("smj", "SortMergeJoin"),
                ("shj", "ShuffledHashJoin"),
                ("bnlj", "BroadcastNestedLoopJoin"),
            )
            if s[k]
        ]
        if joins:
            det.append("- joins: " + ", ".join(joins))
        det.append(f"- whole-stage codegen spans: {s['codegen_spans']}")
        det.append("")
        details.extend(det)
    out = "\n".join(lines + ["", ""] + details)
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(out)
    print(f"wrote PLANS.md ({len(out)} bytes)", file=sys.stderr)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", default=SF_BENCH, help="table directory to measure")
    p.add_argument("--runs", type=int, default=3, help="timed runs (--pair: rounds)")
    p.add_argument("--noop", action="store_true", help="time the noop sink")
    p.add_argument("--pair", action="store_true", help="ABBA against BENCH_PREV_REF")
    p.add_argument("--plans", nargs=2, metavar=("DIR", "TAG"), help="dump explains")
    p.add_argument("--plans-md", action="store_true", help="rewrite PLANS.md")
    p.add_argument("names", nargs="*")
    args = p.parse_args(argv)
    if not args.names and not args.plans_md:
        p.error("name a query (or pass --plans-md)")

    from tutorial_iceberg_spark.session import get_spark

    # Python workers unpickle engine functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        path for path in (REPO, os.environ.get("PYTHONPATH")) if path
    )
    spark = get_spark(app_name="query-profile")
    if args.plans_md:
        write_plans_md(spark, SF_CORRECT)
    if args.plans:
        write_plans(spark, args.names, args.sf, *args.plans)
    elif args.names:
        for name in args.names:
            if args.pair:
                rec = pair(spark, name, args.sf, args.runs, args.noop)
            else:
                rec = profile(spark, name, args.sf, args.runs, args.noop)
            print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
