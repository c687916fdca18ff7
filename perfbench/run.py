#!/usr/bin/env python3
"""graft benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --make-refs

Run from the root of a checkout. The first run builds graft and the
harness in perfbench/harness with sbt (offline) and generates the input
tables with perfbench/gen_data.py; both are cached under perfbench/.work
and rebuilt when their sources change. Each run then starts one JVM
(Spark local[nproc]) with its own java.io.tmpdir, which is deleted at
exit, checks the outputs against the references, and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The full run record (host, failures with their cause, every
metric, the layer rollup) is kept in perfbench/.work/results.

--make-refs recomputes perfbench/refs.json, the canonical hashes of the
DuckDB oracle results (SparkEntry.oracleSql) of every batch query.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
REFS = os.path.join(BENCH, "refs.json")
XMX = "3g"
RUN_TIMEOUT_S = 150

# The 53 batch queries of the event (SURVEY 2.A/2.B) and corpus-dedup
# (2.C/2.D) shelves; refs.json holds reference hashes for all of them.
EVENT_QUERIES = [
    "q01_pricing_summary", "q02_top_revenue", "q03_segment_revenue", "q04_region_sales",
    "q05_order_priority", "q06_selective_sum", "q07_cust_top_orders",
    "q08_segment_distinct", "q09_idle_customers", "q10_rollup_sales",
    "q11_part_type_topk", "q33_cube_orders", "q82_bucketed_join", "q12_latest_state",
    "q13_tumbling_counts", "q14_sessionize", "q15_payload_extract", "q16_event_funnel",
    "q17_asof_join", "q18_upsert_merge", "q19_delete_tombstones", "q36_row_materialize",
    "q42_sliding_counts", "q43_pivot_counts", "q44_first_last", "q51_cohort_retention",
    "q63_session_assign", "q70_scd2", "q71_time_travel", "q76_effectively_once",
    "q104_markov_transitions", "q126_incremental_agg", "q163_rate_spikes",
    "q203_active_users", "q254_window_funnel", "q262_max_versions", "q267_event_debounce"]
CORPUS_DEDUP = [
    "q20_dedup_exact", "q21_dedup_ngram_jaccard", "q22_dedup_minhash", "q23_dedup_simhash",
    "q24_embed_near_dup", "q25_ann_bruteforce", "q26_ann_lsh", "q38_ann_ivf",
    "q59_dedup_components", "q94_dedup_pagerank", "q101_winnow_pairs",
    "q106_cluster_canonical", "q109_embed_clusters", "q112_dedup_report",
    "q133_multi_signal_dedup", "q181_incremental_components"]

# What each workload runs. A full pass over both lists costs ~18 s and
# ~30 s at local[4], ~2x that cold, which does not fit the per-run time
# budget, so each batch workload runs a subset that keeps the query
# families: star join, latest state, tombstones, payload extraction,
# windows, sessions, funnel, as-of and row materialization (events);
# exact, minhash and simhash dedup, LSH ANN, components and PageRank
# (corpus). The cdc log takes the first 12k events (all 1,500 users of
# scale 0.1, ~8 versions each, ~20% tombstones) and 18k order inserts.
# Its mutation rate is fixed here, once, at about half the measured
# catch-up rate (~3k mutations/s at local[4]).
WORKLOADS = {
    "event_queries": {"kind": "batch", "scale": 0.01, "ops": [
        "q04_region_sales", "q12_latest_state", "q13_tumbling_counts", "q14_sessionize",
        "q15_payload_extract", "q16_event_funnel", "q17_asof_join",
        "q19_delete_tombstones", "q36_row_materialize", "q42_sliding_counts"]},
    "corpus_dedup": {"kind": "batch", "scale": 0.01, "ops": [
        "q20_dedup_exact", "q22_dedup_minhash", "q23_dedup_simhash", "q26_ann_lsh",
        "q59_dedup_components", "q94_dedup_pagerank"]},
    "cdc_tail": {"kind": "cdc", "scale": 0.1, "events": 12000, "orders": 18000,
                 "rate": 1500, "segment_mutations": 100, "max_files": 64,
                 "backlog_frac": 0.5},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else os.walk(top))
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".work", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def source_digest():
    return digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                   os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "src")])


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        die(f"not a graft checkout: missing {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    stamp = os.path.join(WORK, "build", "classpath.json")
    src = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["source_digest"] == src:
            return got["classpath"], src
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Xmx2g").strip()
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"], HARNESS, env, 840)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        errors = [l for l in lines if l.startswith("[error]")] or lines[-40:]
        sys.stderr.write("\n".join(errors[:60]) + "\n")
        die("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"source_digest": src, "classpath": lines[-1].strip(),
                   "build_s": time.time() - t0}, f)
    return lines[-1].strip(), src


def data_dir(scale):
    """Generated input tables at `scale`, made once per generator version."""
    gen = os.path.join(BENCH, "gen_data.py")
    d = os.path.join(WORK, "data", f"{digest([gen])}-sf{scale}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d, str(scale)], check=True, timeout=300)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_group(cmd, cwd, env, timeout, log_path=None):
    """Runs `cmd` in its own process group and waits for it. The whole
    group is killed on timeout or when this script is interrupted or
    terminated. Returns (exit code or None on timeout, output)."""
    log = open(log_path, "w+") if log_path else subprocess.PIPE
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=log,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        out, rc = "", None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if log_path:
        log.seek(0)
        out = log.read()
        log.close()
    return rc, out or ""


def java(cp, run_dir, args, timeout):
    """Runs the harness JVM with its own tmpdir under `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn512m"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", cp, "graft.perfbench.Main"] + args)
    rc, out = run_group(cmd, run_dir, None, max(1, timeout), os.path.join(run_dir, "jvm.log"))
    if rc != 0:
        sys.stderr.write(out[-6000:])
        die("harness JVM timed out" if rc is None else f"harness JVM exited with {rc}")


def check_results(cfg, run_dir, threw):
    """Wrong results of the warm-up pass, as failure records; ops in
    `threw` already failed with an exception and are not counted again."""
    import canon
    with open(REFS) as f:
        refs = json.load(f)
    con = canon.connect()
    wrong = []
    for op in (o for o in cfg["ops"] if o not in threw):
        want = refs["queries"].get(op)
        got, rows = canon.parquet_hash(con, os.path.join(run_dir, "results", op))
        if want is None or got != want["hash"]:
            wrong.append({"op": op, "pass": -1, "class": "WrongResult",
                          "message": f"result hash {got} ({rows} rows) != reference "
                                     f"{want and want['hash']} ({want and want['rows']} rows)"})
    return wrong


def check_cdc(run_dir):
    """A wrong final cdc state, as a failure record."""
    import canon
    bad = canon.cdc_mismatches(canon.connect(), os.path.join(run_dir, "wal"),
                               os.path.join(run_dir, "out"))
    return [{"op": "cdc_tail", "pass": 0, "class": "WrongResult",
             "message": f"{bad} rows differ from the reference state"}] if bad else []


def make_refs(cp):
    import canon
    out = {"generator": digest([os.path.join(BENCH, "gen_data.py")]), "queries": {}}
    scale = WORKLOADS["event_queries"]["scale"]
    out["scale"] = scale
    names = EVENT_QUERIES + CORPUS_DEDUP
    work = os.path.join(WORK, "refs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    oracle_file = os.path.join(work, "oracles.json")
    java(cp, work, ["--oracles", oracle_file, "--ops", ",".join(names)], 300)
    with open(oracle_file) as f:
        oracles = json.load(f)
    shutil.rmtree(work)
    con = canon.connect()
    d = data_dir(scale)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for op in names:
        h, rows = canon.result_hash(con.sql(oracles[op]))
        out["queries"][op] = {"hash": h, "rows": rows}
        print(f"{op}: {rows} rows {h[:12]}", file=sys.stderr)
    with open(REFS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-refs", action="store_true")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found at the checkout root")
    cp, src = build()
    started = time.time()
    if a.make_refs:
        make_refs(cp)
        return
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    cfg = WORKLOADS[a.workload]
    data = data_dir(WORKLOADS["event_queries"]["scale"])
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}")
    args = ["--workload", a.workload, "--kind", cfg["kind"], "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", run_dir, "--record", os.path.join(run_dir, "record.json"),
            "--spans", stem + ".spans.jsonl"]
    if cfg["kind"] == "batch":
        args += ["--ops", ",".join(cfg["ops"])]
    try:
        shutil.rmtree(run_dir, ignore_errors=True)
        if cfg["kind"] == "cdc":
            import gen_data
            log = os.path.join(run_dir, "log")
            gen_data.cdc_log(data_dir(cfg["scale"]), log, cfg["events"], cfg["orders"],
                             cfg["segment_mutations"], a.seed)
            args += ["--log", log] + [x for k in ("rate", "max_files", "backlog_frac")
                                      for x in (f"--{k}", str(cfg[k]))]
        java(cp, run_dir, args, RUN_TIMEOUT_S - (time.time() - started))
        with open(os.path.join(run_dir, "record.json")) as f:
            rec = json.load(f)
        threw = {f["op"] for f in rec["failures"]}
        wrong = (check_results(cfg, run_dir, threw) if cfg["kind"] == "batch"
                 else check_cdc(run_dir) if not threw else [])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["failures"] += wrong
    rec["host"].update({"xmx": XMX, "git_commit": git_commit(), "source_digest": src})
    rec["config"] = {k: v for k, v in cfg.items() if k != "ops"}
    e2e = dict(rec["end_to_end"], peak_rss_mb=rec["peak_rss_mb"])
    values = rec["layers"] if a.trace else e2e
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1)
    missing = [m["name"] for m in wanted if not isinstance(values.get(m["name"]), (int, float))]
    if missing:
        die(f"metrics not measured: {missing}; failures: {rec['failures'][:5]}")
    failed = len(rec["failures"])
    print(json.dumps({
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
