#!/usr/bin/env python3
"""Per-PR benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program (once per source
state), generates the workload's inputs from the seed, drives the engine
in one JVM as a closed loop with one client, checks every result against
the DuckDB oracle, and prints the metrics; the last stdout line is the
JSON result. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("finance_interactive", "enrich_store", "curation_batch_x10")

# The finance_interactive queries: one from each latency decile of the 50
# FinanceDatabase-surface queries (FinanceQueries without q43/q89,
# BulkQueries without q81, CalendarQueries, TimeSeriesQueries and the
# store-lifecycle q06/q07/q08/q65), measured warm at local[4] on the
# generated finance inputs, with the middle of the set dense so that its
# median does not hinge on one query. The set is the same on every seed and
# the seed shuffles its order: a set that rotated with the seed moved the
# query median by 30% from seed to seed (0.67-0.87 s).
FINANCE = ["q07_batch_update", "q88_stream_stream_join", "q93_asof_forward",
           "q10_resample_ohlc_1h", "q153_daily_returns", "q40_occ_roundtrip",
           "q74_bulk_open_interest", "q95_asof_by_channel",
           "q48_streaming_windowed_agg", "q65_catalog_lifecycle"]
CURATION = ["q113_winnow_near_dup", "q107_substring_dedup",
            "q173_exact_substring_remove", "q125_chunk_retrieval", "q86_bm25_topk",
            "q160_ivfpq_search", "q162_html_extract", "q168_bpe_pipeline"]

# The JDK 17 module opens of build.sbt, and a fixed, pre-touched heap: with
# a growing heap, G1's sizing moved peak RSS by 20% between runs of one seed.
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
RUN_LIMIT_S = 170
# The warm wall time of one round on a 4-core box, by workload. A run's
# timed window is the whole rounds that fit in --seconds at this pace (at
# least one), a count fixed so that every run does the same work: later
# rounds of a run are warmer (a finance round ran 6.9, 6.0, 5.6, 5.3 s in
# turn), so a count taken from the live pace moved the medians with the
# machine's speed. The curation batch is one cold pass by definition.
ROUND_S = {"finance_interactive": 7.5, "enrich_store": 10.5}


def select_ops(workload, seed):
    """The run's operations, in their seeded order."""
    if workload == "finance_interactive":
        ops = list(FINANCE)
        random.Random(seed).shuffle(ops)
        return ops
    if workload == "curation_batch_x10":
        # a fixed order: in a cold batch the first query pays the warm-up
        return list(CURATION)
    return []  # enrich_store's operations are fixed in the JVM side


def rounds(workload, seconds):
    """The number of timed rounds of a run."""
    if workload not in ROUND_S:
        return 1
    return max(1, int(seconds // ROUND_S[workload]))


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def launch(classes, args, work, deadline):
    jars = os.path.join(os.path.dirname(build.spark_jars()[0]), "*")
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", os.pathsep.join([classes, jars]),
                                  "perfbench.PerfBench"] + args
    # the session recipe is the benchmark's: no GRAFT_* profile or master
    # override from the caller, and Spark's scratch space stays in the run
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return "timed out"
        finally:
            # also on SIGTERM or Ctrl-C: never leave the engine running
            if p.poll() is None:
                p.kill()
                p.wait()
    return None if rc == 0 else f"exit code {rc}"


def metrics(res, trace):
    """Every metric value of the run by name: the end-to-end ones from the
    untraced rounds, and with `trace` the per-layer ones; plus the samples
    they were taken from, for the printed summary."""
    rounds = [r for r in res["rounds"] if not r["traced"]]
    # a traced run adds one untraced round before its traced ones
    base = rounds.pop() if trace else {"round": -1}
    samples = [s for s in res["samples"] if not s["traced"] and s["round"] != base["round"]]
    lat = {k: [s["lat_s"] for s in samples if s["kind"] in k and not s["error"]]
           for k in (("query", "save"), ("save",), ("lookup",))}
    store = res["store"]
    rows = store.get("rows", 0.0)
    saves = lat[("save",)]
    save_ops = len({s["op"] for s in samples if s["kind"] == "save"})
    v = {
        "setup_s": stats.median(res["setup_s"]),
        "query_p50_s": stats.median(lat[("query", "save")]),
        "round_s": stats.median([r["wall_s"] for r in rounds]),
        "task_cpu_s": stats.median([r["task_cpu_s"] for r in rounds]),
        "peak_rss_mb": res["peak_rss_mb"],
        "sources.save_p50_s": stats.median(saves) if saves else 0.0,
        "sources.lookup_p50_s": stats.median(lat[("lookup",)]) if lat[("lookup",)] else 0.0,
        # each round saves every enriched frame once: rows per round x rounds
        "sources.enriched_rows_per_s": rows * len(saves) / save_ops / sum(saves) if saves else 0.0,
        "sources.store_bytes_per_row": store["bytes"] / rows if rows else 0.0,
    }
    if trace:
        v.update(res["layers"])
        traced = [r["wall_s"] for r in res["rounds"] if r["traced"]]
        v["trace.overhead_frac"] = stats.median(traced) / base["wall_s"] - 1.0
    return v, lat, len(rounds)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    try:
        t0 = time.monotonic()
        classes = build.ensure(ROOT, BENCH)
        log(f"build ready in {time.monotonic() - t0:.1f} s")
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    data = os.path.join(BENCH, ".data", a.workload, f"seed{a.seed}-{gen.version()}")
    rep = gen.generate(a.workload, a.seed, data)
    log(f"inputs {'cached' if rep['cached'] else 'generated'} in {rep['gen_s']:.2f} s: " +
        ", ".join(f"{n} {t['rows']} rows / {t['bytes']} B" for n, t in rep["tables"].items()))

    ops = select_ops(a.workload, a.seed)
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    err = launch(classes, ["--workload", a.workload, "--data", data, "--work", work,
                           "--rounds", str(rounds(a.workload, a.seconds)), "--trace", str(a.trace),
                           "--seed", str(a.seed), "--ops", ",".join(ops),
                           "--cpus", str(cpus)], work, deadline)
    result = os.path.join(work, "result.json")
    if err or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        print(f"[perfbench] benchmark JVM failed ({err}):\n{tail}", file=sys.stderr)
        return 1
    with open(result) as fh:
        res = json.load(fh)

    log(f"engine process ran {time.monotonic() - t0:.1f} s")

    # --- output check, after the timed window
    t0 = time.monotonic()
    verdicts = check.check(data, os.path.join(work, "dump"), res["oracle_sql"])
    log(f"output check of {len(verdicts)} results took {time.monotonic() - t0:.1f} s")
    failed_ops = [s for s in res["samples"] if s["error"]]
    bad = [(n, why) for n, why in verdicts.items() if why]
    bad += [(c["name"], c["why"]) for c in res["checks"] if not c["ok"]]
    bad += [(f["op"], f["error"]) for f in res["failures"]
            if not any(f["op"] == s["op"] for s in failed_ops)]
    for name, why in bad:
        log(f"WRONG {name}: {why}")
    for s in failed_ops:
        log(f"FAILED {s['op']} (round {s['round']}): {s['error']}")
    attempted = len(res["samples"]) + len(verdicts) + len(res["checks"])
    failed = len(failed_ops) + len(bad)

    values, lat, n_rounds = metrics(res, a.trace == 1)
    declared = stats.declared()[1 if a.trace else 0]
    missing = [n for n, _ in declared if n not in values]
    if missing:
        print(f"[perfbench] no value for declared metrics {missing}", file=sys.stderr)
        return 1
    log(f"{a.workload} seed {a.seed}: local[{cpus}], closed loop, 1 client, "
        f"{n_rounds} timed round(s) of {len({s['op'] for s in res['samples']})} operations")
    log(stats.describe("query latency", lat[("query", "save")], "s"))
    if a.workload == "enrich_store":
        log(stats.describe("save latency", lat[("save",)], "s"))
        log(stats.describe("lookup latency", lat[("lookup",)], "s"))
        for k, unit in (("sources.enriched_rows_per_s", "1/s"),
                        ("sources.store_bytes_per_row", "B")):
            log(f"{k.split('.')[1]} = {values[k]:.6g} {unit}")
    log(f"setup samples (s): {', '.join('%.3f' % x for x in res['setup_s'])}")
    log(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    for k, unit in declared:
        log(f"{k} = {values[k]:.6g} {unit}")
    out = dict(correct=failed == 0, attempted=attempted, failed=failed,
               metrics={k: dict(value=values[k], unit=u) for k, u in declared})
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
