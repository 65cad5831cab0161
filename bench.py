"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the reference's three benchmark shapes (key lookup / simple
agg / month x type agg, README.md:767-818) + the engine's heaviest flagship
queries (TPC-H-ish pricing summary, star join, near-dup LSH) so the number
tracks what actually dominates at scale. Each query is timed around a full
``collect()`` (materialization included, like the reference's console.time
around result print) after a session warm-up pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tutorial_iceberg_spark.io import load_table  # noqa: E402
from tutorial_iceberg_spark.registry import all_queries  # noqa: E402
from tutorial_iceberg_spark.session import get_spark  # noqa: E402

# Registry names, in bench order. bench-shape = reference mirror;
# flagship = heaviest engine queries.
HEADLINE = (
    "p3_eq_filter",  # key-lookup shape (README.md:767-776)
    "flagship_event_type_agg",  # simple agg shape (README.md:779-795)
    "a6_day_type_agg",  # month x type shape (README.md:798-818)
    "q1_lineitem_pricing",  # TPC-H Q1-ish wide agg over lineitem
    "q3_shipping_priority",  # fact-to-fact shuffle join + top-k
    "j2_star_join_revenue",  # multi-dim broadcast star join
    "w1_running_total",  # window over monthly rollup
    "x_dedup_exact",  # content-hash dedup shuffle
    "x_dedup_minhash_lsh",  # minhash/LSH near-dup pipeline
    "x_token_count",  # text-pipeline scan-speed agg
    "f10_json_value",  # JSON extraction scan
    "x_knn_brute_cosine",  # broadcast top-k cosine similarity
    "x_sessionize",  # gap sessionization window chain
    "x_stream_tumbling_agg",  # structured-streaming windowed agg
    "q21_sole_returning_supplier",  # double self-correlation via order-level agg
    "q13_customer_distribution",  # outer join + two-level agg
    "x_keyword_extract",  # explode -> tf/df -> windowed top-k
    "q9_product_profit",  # 6-table join, two fact tables, per-nation-year agg
    "q18_large_volume_orders",  # agg-filtered semi join over lineitem
    "lake_merge_upsert",  # lakehouse MERGE: CoW rewrite + snapshot commit
    "lake_sorted_compaction",  # rewrite_data_files(sort) + pruned scan
    "x_bm25_search",  # ranked retrieval: explode + bounded-broadcast join + top-k
    "x_dedup_incremental",  # batch-vs-corpus posting-list join + verdicts
    "x_chunk_documents",  # RAG chunking: tokenize -> explode -> slice, narrow
    "x_embed_pca",  # two-Arrow-pass PCA fit + project
    "x_tfidf_terms",  # full-vocab explode + df shuffle join + per-doc top-k
    "x_cooccur_pairs",  # vocab-bounded term co-occurrence mining
    "lake_changelog",  # CDC snapshot diff: full-outer key join + 4-way split
    "x_embed_outliers",  # per-label centroid audit: ordered-fold exact means
    "x_stream_session_window",  # native merging session windows, stateful
    "lake_datasource_scan",  # registered-source read: pushFilters pruning + Arrow workers (r15 Next #5)
)
# NOT in the headline: x_triangle_count / x_knn_classify_loo. At bench SF
# their pair source is the deliberately-EXACT all-pairs cosine baseline
# (oracle-bit-checkable form, ~20 s of interpreted float64 folds over 2M
# pairs) — benchmarking it would measure the correctness baseline, not the
# engine's scale path (LSH candidates, which `auto` switches to above
# ALL_PAIRS_MAX_ROWS and which the recall/plan pytests cover).

# Fixed CPU-bound calibration probe (no I/O, no data dependence): 1B-row
# codegen scan + xxhash64 fold on 32 partitions. Its wall time tracks the
# machine's effective speed under whatever hypervisor/noisy-neighbor load
# exists during THIS bench run; r4 "regressed" 2.03x on byte-identical code,
# so raw round-over-round totals are not interpretable without it.
# Reference = the probe's deeply-JIT-warmed value on the round-5 build host
# measured in bench position (after the full warm-up + timed suite), on a
# quiet machine.
#
# The probe is ADVISORY context, not a correction factor (ADVICE r5): the
# suite mixes parquet I/O, shuffles, and lakehouse commits whose slowdown
# under load is NOT proportional to a pure-CPU probe, so rescaling the
# headline by it can overstate performance and mask regressions. The
# headline "value" is therefore always the RAW wall-clock total; consumers
# get "calibration_ratio" (probe / reference; >1 = machine slower than the
# reference host) to judge whether a raw delta is machine noise.
CALIBRATION_REF_SEC = 0.24

# ---------------------------------------------------------------------------
# Paired A/B vs the previous round's tip (VERDICT r8 Next #3): raw
# round-over-round totals are not interpretable on this host (the r8 suite
# measured 1.12x r7 on 28/30 code-untouched queries; the builder's own quiet
# runs spanned 29.2-34.0 s, and the CPU calibration probe does not capture
# IO/hypervisor drift). The drift-immune measurement is to run BOTH code
# versions in the SAME Spark session, interleaved ABBA (prev, cur, cur,
# prev — a monotone drift cancels in the means), and report the per-query
# paired ratio. The previous tip comes from BENCH_PREV_REF (updated at each
# round's end) checked out into a .bench_prev/ worktree; its package
# temporarily shadows the current one on sys.path while its pass runs.
# Degrades gracefully (paired: null + reason) when git/worktree/ref is
# unavailable, so the headline JSON contract never breaks.
# ---------------------------------------------------------------------------
PAIRED_PASSES = ("prev", "cur", "cur", "prev")


def _prev_worktree(repo_root: str) -> str | None:
    """Materialize BENCH_PREV_REF into .bench_prev/; None if unavailable."""
    import subprocess

    ref_file = os.path.join(repo_root, "BENCH_PREV_REF")
    if not os.path.exists(ref_file):
        return None
    with open(ref_file) as fh:
        sha = fh.readline().split()[0]
    wt = os.path.join(repo_root, ".bench_prev")

    def git(*args, cwd=repo_root):
        return subprocess.run(
            ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
        ).stdout.strip()

    def fresh():
        import shutil

        shutil.rmtree(wt, ignore_errors=True)
        git("worktree", "prune")
        git("worktree", "add", "--detach", "--force", wt, sha)

    try:
        git("rev-parse", "--verify", f"{sha}^{{commit}}")
        if os.path.exists(os.path.join(wt, ".git")):
            try:
                if git("rev-parse", "HEAD", cwd=wt) != sha:
                    git("checkout", "--detach", sha, cwd=wt)
            except Exception:
                # stale worktree (e.g. the repo directory was copied and
                # the .git pointer broke): rebuild rather than skip
                fresh()
        else:
            fresh()
        return wt
    except Exception as e:
        print(f"# paired: prev worktree unavailable ({e})", file=sys.stderr)
        return None


class _package_from:
    """Context manager: import tutorial_iceberg_spark from ``root``,
    shadowing the current package; restores the caller's modules on exit."""

    _PKGS = ("tutorial_iceberg_spark",)

    def __init__(self, root: str):
        self.root = root

    def _purge(self):
        out = {}
        for m in list(sys.modules):
            if any(m == p or m.startswith(p + ".") for p in self._PKGS):
                out[m] = sys.modules.pop(m)
        return out

    def __enter__(self):
        self.saved = self._purge()
        sys.path.insert(0, self.root)
        try:
            import tutorial_iceberg_spark as pkg
            from tutorial_iceberg_spark.registry import all_queries as aq

            got = os.path.abspath(pkg.__file__)
            want = os.path.abspath(self.root) + os.sep
            if not got.startswith(want):
                # the root lacks the package and Python fell through to a
                # later sys.path entry (the CURRENT repo) — that would pair
                # cur-vs-cur and read a meaningless 1.0; fail loudly instead
                raise ImportError(f"package resolved to {got}, not {want}")
            return aq()
        except BaseException:
            # restore the caller's sys.path/sys.modules before propagating —
            # a failed prev-package import must not poison the current run
            self.__exit__(None, None, None)
            raise

    def __exit__(self, *exc):
        sys.path.remove(self.root)
        self._purge()
        sys.modules.update(self.saved)
        return False


def run_paired(spark, sf_dir: str, repo_root: str):
    """Query-level ABBA prev-vs-current timing.

    Each query runs its (prev, cur, cur, prev) quartet BACK-TO-BACK —
    the four samples land seconds apart, so session aging (heap growth,
    state-store accumulation — a CONCAVE drift over the multi-minute
    suite that a pass-level ABBA provably does not cancel; the
    HEAD-vs-HEAD self-test measured it at ~3-10%) is constant within
    the quartet and cancels in the per-query ratio. The package swap
    per version change is a sys.modules purge + reimport (~1 s); 3
    swaps per query. Self-test: point BENCH_PREV_REF at HEAD — every
    ratio must read ~1.0.

    Returns the ``paired`` JSON block or a {skipped: reason} stub. Uses
    full registered builders on both sides (setup∘op for lake entries —
    the pair is like-for-like, so fixture cost cancels in the ratio)."""
    if os.environ.get("BENCH_PAIRED", "1") == "0":
        return {"skipped": "BENCH_PAIRED=0"}
    wt = _prev_worktree(repo_root)
    if wt is None:
        return {"skipped": "prev worktree unavailable"}
    # Wall budget: the paired phase is diagnostics on TOP of the headline
    # contract — on a loaded host (queries 3-4x slower) it must degrade
    # to a partial pairing rather than risk the whole bench against
    # whatever timeout the caller runs us under. Queries are paired in
    # HEADLINE order until the budget is spent; the output records how
    # many were truncated (no silent caps).
    budget_s = float(os.environ.get("BENCH_PAIRED_BUDGET_SEC", "600"))
    phase_t0 = time.perf_counter()

    warm_sf = "/root/testdata/sf0.001"
    roots = {"prev": wt, "cur": repo_root}
    times: dict[str, dict[str, list[float]]] = {}
    # one prev-code warm pass at the smallest SF (codegen/JIT for ITS
    # plans; current code was warmed by the main phase)
    try:
        with _package_from(wt) as specs_prev:
            shared = [n for n in HEADLINE if n in specs_prev]
            for name in shared:
                try:
                    specs_prev[name].builder(spark, warm_sf).collect()
                except Exception as e:
                    print(f"# paired warmup {name}: {e}", file=sys.stderr)
    except Exception as e:  # prev package unimportable -> degrade, not die
        print(f"# paired: prev import failed ({e})", file=sys.stderr)
        return {"skipped": f"prev import failed: {e}"}
    truncated = []
    for qi, name in enumerate(shared):
        if time.perf_counter() - phase_t0 > budget_s:
            truncated = shared[qi:]
            print(
                f"# paired budget ({budget_s:.0f}s) exhausted: "
                f"{len(truncated)} queries not paired",
                file=sys.stderr,
            )
            break
        rec = times.setdefault(name, {"prev": [], "cur": []})
        # The quartet's FIRST run pays a cold penalty (page cache / JIT
        # state evicted by the 29 other queries since this one last ran;
        # the HEAD-vs-HEAD self-test measured it at ~10%), so (a) an
        # UNTIMED warm run at the bench SF absorbs it before any timed
        # sample, and (b) the pattern alternates per query so whatever
        # position effect remains splits evenly across versions.
        pattern = (
            PAIRED_PASSES if qi % 2 == 0 else tuple(reversed(PAIRED_PASSES))
        )
        for runs, version in enumerate((pattern[0],) + pattern):
            try:
                with _package_from(roots[version]) as specs:
                    if name not in specs:
                        continue
                    try:
                        t0 = time.perf_counter()
                        specs[name].builder(spark, sf_dir).collect()
                        if runs > 0:  # run 0 = untimed warm
                            rec[version].append(time.perf_counter() - t0)
                    except Exception as e:
                        print(
                            f"# paired {name} [{version}]: {e}",
                            file=sys.stderr,
                        )
            except Exception as e:  # mid-suite import failure: skip sample
                print(
                    f"# paired {name} [{version}] import: {e}", file=sys.stderr
                )
        print(
            f"# paired {qi + 1}/{len(shared)} {name}: "
            + ", ".join(
                f"{v}={sum(t)/len(t):.3f}s" for v, t in rec.items() if t
            ),
            file=sys.stderr,
        )

    per_query = {}
    tot_prev = tot_cur = 0.0
    for name, t in times.items():
        if not t["prev"] or not t["cur"]:
            continue
        p = sum(t["prev"]) / len(t["prev"])
        c = sum(t["cur"]) / len(t["cur"])
        tot_prev += p
        tot_cur += c
        per_query[name] = {
            "prev_sec": round(p, 4),
            "cur_sec": round(c, 4),
            "ratio": round(c / p, 4) if p > 0 else None,
        }
    with open(os.path.join(repo_root, "BENCH_PREV_REF")) as fh:
        sha = fh.readline().split()[0]
    return {
        "prev_ref": sha,
        "pattern": "warm+ABBA/BAAB per query",
        "per_query": per_query,
        "truncated_by_budget": truncated,
        "total_prev_sec": round(tot_prev, 4),
        "total_cur_sec": round(tot_cur, 4),
        "total_ratio": round(tot_cur / tot_prev, 4) if tot_prev else None,
    }


def run_calibration(spark) -> float:
    probe = lambda: (
        spark.range(0, 1_000_000_000, 1, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS s")
        .collect()
    )
    probe()  # warm codegen for the probe itself
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        probe()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")
    specs = all_queries()

    # Warm-up: run every headline query once at the smallest SF. This warms
    # the JVM JIT and the streaming machinery and fills the codegen class
    # cache while touching none of the benchmark SF's data. The cache holds
    # every headline plan's classes only because session.py sizes it
    # (CODEGEN_CACHE_ENTRIES); at Spark's default of 100 entries the 31
    # queries evicted each other's classes before their timed runs. A timed
    # run still compiles where AQE plans the bench SF differently from the
    # warm SF, and the JIT is still compiling through the first timed runs.
    warm_sf = "/root/testdata/sf0.001"
    for t in ("events", "lineitem", "documents"):
        load_table(spark, sf_dir, t).count()
    for name in HEADLINE:
        try:
            specs[name].builder(spark, warm_sf).collect()
        except Exception as e:  # never let warm-up sink the bench
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # Best-of-N timing (standard bench practice): the minimum is the run
    # least disturbed by CPU contention outside the engine's control, and
    # this host shows 2-3x hypervisor noise on identical plans run
    # back-to-back. Each run is a fresh plan + full collect().
    RUNS = 3
    cal_before = run_calibration(spark)
    # lake_* entries split fixture setup (temp-dir table + seed snapshots —
    # state a real table already has) from the measured operator (MERGE /
    # compaction / changelog diff) so an operator regression is visible
    # above tmpdir write noise. timings[name] stays the full setup+op wall
    # for round-over-round comparability; the split is reported alongside.
    from tutorial_iceberg_spark.lakehouse.queries import BENCH_SPLIT

    timings: dict[str, float] = {}
    lake_split: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        builder = specs[name].builder
        best, rows = float("inf"), 0
        if name in BENCH_SPLIT:
            setup_fn, op_fn = BENCH_SPLIT[name]
            best_setup = best_op = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                state = setup_fn(spark, sf_dir)
                t1 = time.perf_counter()
                rows = len(op_fn(state).collect())
                t2 = time.perf_counter()
                if t2 - t0 < best:
                    best = t2 - t0
                best_setup = min(best_setup, t1 - t0)
                best_op = min(best_op, t2 - t1)
            lake_split[name] = {
                "setup_sec": round(best_setup, 4),
                "op_sec": round(best_op, 4),
            }
        else:
            for _ in range(RUNS):
                t0 = time.perf_counter()
                rows = len(builder(spark, sf_dir).collect())
                best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        extra = (
            f" [setup {lake_split[name]['setup_sec']:.3f}s"
            f" + op {lake_split[name]['op_sec']:.3f}s]"
            if name in lake_split
            else ""
        )
        print(
            f"# {name}: {timings[name]:.3f}s ({rows} rows){extra}",
            file=sys.stderr,
        )
    cal_after = run_calibration(spark)

    repo_root = os.path.dirname(os.path.abspath(__file__))
    paired = run_paired(spark, sf_dir, repo_root)
    # r16 verdict Next #7: both rounds' evidence was noise-contaminated
    # (calibration 1.06-2.27 while untouched code drifted 1.7x), so the
    # paired phase now carries its OWN bracketing probes and a suspect
    # flag. The flag is advisory metadata (the one-line JSON contract is
    # never withheld); a round is expected to re-run the bench until one
    # calibration-clean paired run exists.
    cal_paired_end = run_calibration(spark)
    if isinstance(paired, dict) and "per_query" in paired:
        cal_paired = (cal_after + cal_paired_end) / 2
        paired["calibration_ratio"] = round(
            cal_paired / CALIBRATION_REF_SEC, 4
        )
        paired["calibration_suspect"] = not (
            0.9 <= paired["calibration_ratio"] <= 1.1
        )

    # the mean of before/after probes absorbs load drift across the run;
    # reported as a ratio only — "value" stays the raw wall-clock gate
    cal = (cal_before + cal_after) / 2
    total = round(sum(timings.values()), 4)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "runs_per_query": RUNS,
        "queries": timings,
        "lake_split": lake_split,
        "sf": sf_dir,
        "calibration_sec": round(cal, 4),
        "calibration_ref_sec": CALIBRATION_REF_SEC,
        "calibration_ratio": round(cal / CALIBRATION_REF_SEC, 4),
        "calibration_suspect": not (
            0.9 <= cal / CALIBRATION_REF_SEC <= 1.1
        ),
        "paired": paired,
    }
    # Full record (per-query paired ratios, lake setup/op split) goes to a
    # file; the driver's stdout capture keeps only the LAST 2000 chars, and
    # r9's single oversized JSON line pushed "value" out of that window
    # (BENCH_r09 recorded parsed:null). The final stdout line is therefore a
    # COMPACT subset — headline value, per-query timings, calibration, and
    # the paired TOTALS (ratio is the gate; per-query detail is diagnostics).
    with open(os.path.join(repo_root, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    paired_compact = (
        {
            **{k: v for k, v in paired.items() if k != "per_query"},
            "n_paired": len(paired["per_query"]),
            "truncated_by_budget": len(paired.get("truncated_by_budget", [])),
        }
        if isinstance(paired, dict) and "per_query" in paired
        else paired
    )
    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "runs_per_query": RUNS,
        "queries": timings,
        "sf": sf_dir,
        "calibration_ratio": round(cal / CALIBRATION_REF_SEC, 4),
        "calibration_suspect": not (
            0.9 <= cal / CALIBRATION_REF_SEC <= 1.1
        ),
        "paired": paired_compact,
        "detail_file": "BENCH_DETAIL.json",
    }
    out = json.dumps(line, separators=(",", ":"))
    if len(out) > 1900:  # belt-and-braces: never overflow the tail capture
        print(f"# queries (moved off stdout): {timings}", file=sys.stderr)
        line["queries"] = {"_see": "BENCH_DETAIL.json"}
        out = json.dumps(line, separators=(",", ":"))
    print(out)


if __name__ == "__main__":
    main()
