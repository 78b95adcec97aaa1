"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": ...}

Methodology (stabilized for cross-machine comparability):
- one full UNTIMED pass over every headline query first, so each
  query's Catalyst planning + whole-stage-codegen compilation (a
  per-plan constant, irrelevant at 100 TB where execution dominates)
  is paid before any clock starts;
- then POOLED timed passes of three runs per query with the best of
  ALL samples kept (steady-state: the number a warmed cluster would
  see; FIXED 4 passes = 12 samples/query since round 8 — r5-r7 ran
  a convergence-driven 2-4 and the r7 3-pass pool made three upticks
  unresolvable against r6's 4-pass pool) and the max-min spread per
  query, so machine-condition noise is visible in the record instead
  of silently polluting the headline;
- NOISE VALIDITY GATE: a loaded benchmark box shows up as uniformly
  inflated spreads (the round-4 incident: every query 1.2-1.6x slower
  with 2-6x the usual spread, code unchanged). All PASSES timed
  passes run with every sample pooled into the per-query best. The
  `validity` object records passes taken, the per-pass
  median relative spread, and the best-total trajectory, and flags
  `noisy: true` when the final pass still showed high spread — so a
  number produced under residual noise is visibly marked instead of
  silently polluting round comparisons;
- `queries_median` (in BENCH_LOCAL.json, the committed full record —
  the stdout line stays under the driver's 2000-char tail capture)
  reports the per-query median sample alongside the best, so
  best-vs-median divergence is itself a noise signal;
- `value` totals the full headline set; `r02_comparable_total`
  totals the 14-query subset benched in rounds 1-2 (q85 joined the
  headline set in round 3), so round-over-round comparison stays
  apples-to-apples.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from target_hdfs_spark.registry import all_queries
from target_hdfs_spark.session import get_spark

# Headline set: one per operator family, weighted toward the plans
# whose scale behavior matters (joins, windows, dedup, similarity).
# The set is a FLOOR, not the whole bench: main() unions in the
# slowest queries from the last full-registry sim (SIM_TIMINGS.json,
# written by scripts/driver_sim.py), so a future expensive operator
# cannot hide by staying off this hand-picked list.
N_AUTO_HEADLINERS = 3
HEADLINE = [
    "q01_pricing_summary",
    "q03_local_supplier_revenue",
    "q07_agg_stats",
    "q10_window_rank",
    "q18_json_extract",
    "q30_asof_join_last_view",
    "q33_session_window",
    "q42_minhash_signatures",
    "q43_minhash_lsh_pairs",
    "q46_cosine_topk",
    "q51_token_frequencies",
    "q54_quality_filter",
    "q63_ann_ivf",
    "q69_hamming_neighbors",
    # round 3: the iterative connected-components pipeline graduates
    # to a headline (job-fused convergence probe; see BENCH_NOTES.md)
    "q85_dedup_clusters",
    # round 11: the r10 DRIVER-record auto-headliners, pinned. The
    # auto pick follows SIM_TIMINGS, so a sim-timing shift could
    # silently DROP a query that appeared in a driver BENCH record —
    # the bench contract forbids removing entries; pinning makes the
    # query set monotone across rounds.
    "q203_dedup_roi",
    "q180_hard_negative_mining",
    "q278_sequence_packing",
]
_R02_SET = set(HEADLINE[:15]) - {"q85_dedup_clusters"}


def family(spec) -> str:
    """A query's operator family = its first registry tag (the tag
    convention leads with the family: 'dedup', 'similarity', ...)."""
    return spec.tags[0] if spec.tags else "misc"


def auto_headliners(specs) -> list[str]:
    """The slowest registered queries from the last full sim that are
    not already headliners — capped at ONE per operator family (r9
    verdict item 7: three same-family pairs-pipeline queries joined at
    once and the headline over-weighted one shared term). The
    slowest-per-family query still always surfaces, so the
    'slowest queries can't hide' invariant is unchanged; what's gone
    is double-counting one family's shared stage three times."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SIM_TIMINGS.json")
    try:
        with open(path) as fh:
            times = json.load(fh)["spark_wall_sec"]
    except (OSError, KeyError, ValueError):
        return []
    ranked = sorted(times, key=times.get, reverse=True)
    picked: list[str] = []
    seen_fams: set[str] = set()
    for n in ranked:
        if n not in specs or n in HEADLINE:
            continue
        fam = family(specs[n])
        if fam in seen_fams:
            continue
        picked.append(n)
        seen_fams.add(fam)
        if len(picked) >= N_AUTO_HEADLINERS:
            break
    return picked


# Validity gate: high per-pass median relative spread marks box noise
# (the r4 incident fingerprint).
NOISE_REL_SPREAD = 0.30
# r7 verdict item 5: the convergence early-exit stopped r7 at 3 passes
# and made three per-query upticks unresolvable against r6's 4-pass
# pool — passes are FIXED at 4 so round-over-round deltas always
# compare equal-sized best-of pools.
PASSES = 4
RUNS_PER_PASS = 3


def run_once(spec, spark, sf_dir: str) -> int:
    df = spec.fn(spark, sf_dir)
    # count() forces full execution of every operator in the plan.
    return df.count()


def timed_pass(names, specs, spark, sf_dir: str) -> dict[str, list[float]]:
    samples: dict[str, list[float]] = {n: [] for n in names}
    for name in names:
        for _ in range(RUNS_PER_PASS):
            t0 = time.perf_counter()
            run_once(specs[name], spark, sf_dir)
            samples[name].append(time.perf_counter() - t0)
    return samples


def _median_rel_spread(samples: dict[str, list[float]]) -> float:
    from statistics import median

    rels = [
        (max(runs) - min(runs)) / min(runs)
        for runs in samples.values()
        if min(runs) > 0
    ]
    return median(rels) if rels else 0.0


def _box_telemetry() -> dict:
    """One-line box context for wall-clock validity: 1/5/15-min load
    averages and MemAvailable, read from /proc (Linux only; absent
    keys degrade to None rather than failing the bench)."""
    out: dict = {"loadavg": None, "mem_available_gib": None}
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    kib = int(line.split()[1])
                    out["mem_available_gib"] = round(kib / (1 << 20), 2)
                    break
    except OSError:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="target_hdfs_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    auto = auto_headliners(specs)
    names = [n for n in HEADLINE if n in specs] + auto

    # Untimed warm pass: JVM, codegen compilation for EVERY plan,
    # parquet footer caches.
    for name in names:
        run_once(specs[name], spark, sf_dir)

    samples = timed_pass(names, specs, spark, sf_dir)
    spread_trajectory = [round(_median_rel_spread(samples), 4)]
    best_total_trajectory = [round(sum(min(r) for r in samples.values()), 4)]
    for _ in range(PASSES - 1):
        extra = timed_pass(names, specs, spark, sf_dir)
        # pool: best-of-all-samples converges toward the true
        # steady-state even when individual passes are polluted
        for name in names:
            samples[name].extend(extra[name])
        spread_trajectory.append(round(_median_rel_spread(extra), 4))
        best_total_trajectory.append(
            round(sum(min(r) for r in samples.values()), 4)
        )

    timings = {n: round(min(runs), 4) for n, runs in samples.items()}
    from statistics import median

    medians = {n: round(median(runs), 4) for n, runs in samples.items()}
    spreads = {
        n: round(max(runs) - min(runs), 4) for n, runs in samples.items()
    }

    # DuckDB twin, back-to-back on the same box (r9 verdict item 3):
    # the box's absolute wall drifts ~2x across hours, so the
    # drift-invariant headline is the RATIO spark/duckdb over the
    # subset both engines can run (headliners with an oracle), with
    # both absolute totals kept as secondary evidence.
    from tests.oracle_compare import duckdb_conn

    comparable = [n for n in names if specs[n].oracle is not None]
    # ADVICE r10: the twin's 1-warm + best-of-3 dominated bench wall
    # (~63 s of DuckDB for ~16 s of Spark). Default is now 1 warm +
    # 1 timed per oracle — the ratio is a ~50-query AGGREGATE, so
    # per-query timer noise averages out; raise SPARK_GRAFT_DUCK_RUNS
    # for a tighter read, or SPARK_GRAFT_SKIP_DUCK=1 to skip the twin
    # (ratio reported null).
    duck_runs = int(os.environ.get("SPARK_GRAFT_DUCK_RUNS", "1"))
    skip_duck = os.environ.get("SPARK_GRAFT_SKIP_DUCK", "") == "1"
    # DUCK_RUNS=0 means skip, not "time nothing" — best would stay
    # float('inf'), json.dump would emit the non-standard Infinity
    # token, and the committed artifact would fail strict parsing
    skip_duck = skip_duck or duck_runs <= 0
    duck: dict[str, float] = {}
    if not skip_duck:
        con = duckdb_conn(sf_dir)
        try:
            for n in comparable:
                con.execute(specs[n].oracle).fetchall()  # warm
                best = float("inf")
                for _ in range(duck_runs):
                    t0 = time.perf_counter()
                    con.execute(specs[n].oracle).fetchall()
                    best = min(best, time.perf_counter() - t0)
                duck[n] = round(best, 4)
        finally:
            con.close()
    spark_comp = round(sum(timings[n] for n in comparable), 4)
    duck_comp = round(sum(duck.values()), 4) if duck else None
    ratio = (
        round(spark_comp / duck_comp, 4)
        if duck_comp is not None and duck_comp > 0
        else None
    )

    # per-family subtotals: the headline readable per operator family
    fam_totals: dict[str, float] = {}
    for n in names:
        fam = family(specs[n])
        fam_totals[fam] = round(fam_totals.get(fam, 0.0) + timings[n], 4)

    # The stdout line must fit the round driver's 2000-char tail
    # capture or BENCH_r*.json records `parsed: null` (r8 verdict
    # item 1: every round's primary perf artifact failed to
    # machine-parse because queries_median + spread pushed the line
    # past the window). The SLIM line carries the headline number and
    # per-query bests; the FULL record — medians, spreads, validity
    # trajectories — goes to the committed BENCH_LOCAL.json artifact.
    validity = {
        "passes": PASSES,
        "runs_per_query": PASSES * RUNS_PER_PASS,
        "median_rel_spread_by_pass": spread_trajectory,
        "best_total_by_pass": best_total_trajectory,
        "noisy": spread_trajectory[-1] > NOISE_REL_SPREAD,
        # box telemetry (r10 verdict item 4): absolute walls on this
        # box drift ~2x across hours — record load + free memory with
        # every close so cross-round wall comparisons carry their
        # context (the ratio headline is the drift-proof number)
        "box": _box_telemetry(),
    }
    slim = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "validity": validity,
        "auto_headliners": auto,
        "r02_comparable_total": round(
            sum(t for n, t in timings.items() if n in _R02_SET), 4
        ),
        "spark_comparable_total": spark_comp,
        "duckdb_comparable_total": duck_comp,
        "ratio": ratio,
        "family_subtotals": fam_totals,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "full": "BENCH_LOCAL.json",
    }
    full = {
        **slim,
        "queries_median": medians,
        "spread": spreads,
        "duckdb_queries": duck,
    }
    del full["full"]
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")

    line = json.dumps(slim)
    if len(line) > 1900:  # stay inside the 2000-char tail window
        # degrade in recoverability order: per-query timings and the
        # auto-headliner list live in BENCH_LOCAL.json anyway, but
        # validity carries the noisy flag — the marker the protocol
        # exists to keep in the driver-parsed record — so it is
        # sacrificed LAST
        for key in (
            "queries",
            "family_subtotals",
            "auto_headliners",
            "validity",
        ):
            slim[key] = f"see {local_path}"
            line = json.dumps(slim)
            if len(line) <= 1900:
                break
    print(line)


if __name__ == "__main__":
    main()
