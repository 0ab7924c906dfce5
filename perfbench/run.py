#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the program from source if needed (perfbench/build.py),
generates the workload's inputs from the seed, drives the program through
its public functions in one JVM on local[nproc] with one client thread
(perfbench/harness), checks every output, and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
traced run reports the per-layer ones. The line before it carries the
run's details (nproc, JDK, Spark, seed, input sizes, sample counts).
Every setting is fixed in perfbench/settings.json. The run reads and
writes only inside the checkout and removes its work dir at exit.
"""
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# a run must end within 180 s once the program is built; the checks
# after the last JVM need a few seconds of that
RUN_BUDGET_S = 165
DEADLINE = [0.0]
# what spark-submit opens for Spark on JDK 17; the harness JVM is started
# directly
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# ---------------------------------------------------------------- JVM

def run_jvm(cp, settings, props, work, log_path):
    props = dict(props, spawn_ms=repr(time.time() * 1000.0))
    path = os.path.join(work, f"{props['mode']}-{len(os.listdir(work))}.properties")
    with open(path, "w", encoding="utf-8") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    cmd = (["java"] + settings["jvm"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness", path])
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE[0] - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(props["result"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(props["result"]) as f:
        return json.load(f)


# ------------------------------------------------------------ inputs

def make_inputs(name, cfg, seed, work):
    """Generates the workload's inputs; returns (props, input info)."""
    d = os.path.join(work, "in")
    os.makedirs(d)
    yml = os.path.join(HERE, "workloads", f"{name}.yml")
    props = {"kind": cfg["kind"], "out": os.path.join(work, "out")}
    if name == "etl_csv":
        props["input"] = os.path.join(d, "lineitem.csv")
        info = gen.gen_lineitem_csv(seed, cfg["rows"], props["input"])
    elif name == "rest_enrich":
        props["input"] = os.path.join(d, "ids.csv")
        info = gen.gen_rest_inputs(seed, cfg["rows"], props["input"],
                                   os.path.join(d, "plan.json"), cfg["share_404"],
                                   cfg["share_503"], cfg["service_median_ms"],
                                   cfg["service_sigma"], cfg["service_cap_ms"])
    elif name == "llm_curation":
        props["input"] = os.path.join(d, "corpus.parquet")
        info = gen.gen_corpus(seed, cfg["docs"], props["input"], cfg["dup_every"],
                              cfg["mutate_share"])
    else:
        props["input"] = os.path.join(d, "sf")
        info = gen.gen_star_schema(seed, cfg["scale"], props["input"])
        props["queries"] = ",".join(cfg["queries"])
        yml = None
    if yml:
        text = open(yml).read()
        props["yaml"] = os.path.join(d, "pipeline.yml")
        with open(props["yaml"], "w") as f:
            f.write(text)
    return props, info


# ------------------------------------------------------------ checks

def iterations(res):
    return res.get("warmup", []) + res.get("iters", []) + res.get("traced_iters", [])


def check_pipeline(name, res, props, n_threads, stub_stats, plan):
    """Per iteration: True if its output is correct. Also returns digests."""
    import oracle
    con = oracle.connect(n_threads)
    ok, digests = {}, {}
    if name == "etl_csv":
        want = oracle.etl_oracle_digest(con, os.path.join(HERE, "workloads", "etl_csv.oracle.sql"),
                                        props["input"])
        # the first output against DuckDB, every output line for line
        # against the first
        first = iterations(res)[0]["i"]
        typed = oracle.csv_digest(con, f"{props['out']}/iter-{first}", ";",
                                  oracle.ETL_OUTPUT_COLUMNS)
        for it in iterations(res):
            digests[it["i"]] = oracle.line_digest(con, f"{props['out']}/iter-{it['i']}")
            ok[it["i"]] = (typed == want and want[0] > 0
                           and digests[it["i"]] == digests[first])
    elif name == "rest_enrich":
        want = {(int(k), None, v["label"], v["score"], None)
                for k, v in plan.items() if v["status"] != 404}
        kinds = dict(con.execute(
            f"SELECT id, kind FROM read_csv('{props['input']}', header = true, "
            "columns = {'id': 'BIGINT', 'kind': 'VARCHAR'})").fetchall())
        want = {(i, kinds[i], lb, sc, kinds[i]) for i, _, lb, sc, _ in want}
        n404 = sum(1 for v in plan.values() if v["status"] == 404)
        n503 = sum(1 for v in plan.values() if v["status"] == 503)
        for it in iterations(res):
            rows = oracle.rest_rows(con, f"{props['out']}/iter-{it['i']}")
            st = stub_stats.get(str(it["i"]), {})
            status = {int(k): v for k, v in st.get("status", {}).items()}
            digests[it["i"]] = len(rows)
            ok[it["i"]] = (rows == want and st.get("unplanned", 0) == 0
                           and status.get(200, 0) == len(plan) - n404
                           and status.get(404, 0) == n404 and status.get(503, 0) == n503
                           and st.get("retries", 0) == n503)
    else:
        for it in iterations(res):
            digests[it["i"]] = oracle.line_digest(con, f"{props['out']}/iter-{it['i']}")
        ref = digests[iterations(res)[0]["i"]]
        for i, dg in digests.items():
            ok[i] = dg == ref and dg is not None and 0 < dg[0] < res["input_rows"]
    con.close()
    return ok, digests


def check_catalog(res, props, n_threads):
    """Per executed query: True if correct. The check pass (warm-up 0) is
    compared against DuckDB; every count() must equal its row count."""
    import oracle
    con = oracle.connect(n_threads)
    verdict = oracle.catalog_check(con, props["input"], props["out"], res["oracle_sql"])
    con.close()
    ok = []
    mismatches = {}
    for it in iterations(res):
        for q in it["queries"]:
            bad, rows = verdict.get(q["name"], ("no oracle SQL", None))
            good = bad is None and (q["rows"] < 0 or q["rows"] == rows)
            if not good:
                mismatches[q["name"]] = bad or f"count {q['rows']} != {rows}"
            ok.append(good)
    return ok, mismatches


# ----------------------------------------------------------- metrics

def end_to_end(res, setup, info, catalog):
    iters = res["iters"]
    run_s = median([it["ms"] for it in iters]) / 1000.0
    if catalog:
        lat = [q["build_ms"] + q["exec_ms"] for it in iters for q in it["queries"]]
    else:
        lat = [it["ms"] for it in iters]
    m = {"setup_s": (median(setup), "s"),
         "run_s": (run_s, "s"),
         "rows_per_s": (info["rows"] / run_s, "1/s"),
         "query_ms.p50": (median(lat), "ms"),
         "query_ms.p90": (p90(lat), "ms"),
         "mem_peak_mb": (res["mem_peak_mb"], "MB")}
    return m, len(lat)


def per_layer(res, info, nproc_, stub_stats, layers, kept_rows):
    """Per traced iteration totals from spans, jobs and phases; medians."""
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    dur = {s["id"]: (s["end_us"] - s["start_us"]) / 1000.0 for s in spans}
    self_ms = {i: d - sum(dur[c["id"]] for c in children.get(i, [])) for i, d in dur.items()}
    jobs_by_span = {}
    for j in res["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    traced = res["traced_iters"]
    # the listed stages always, plus every stage this workload ran
    stages = list(layers["stages"])
    stages += sorted({s["name"][6:-6] for s in spans if s["name"].startswith("stage.")}
                     - set(stages))
    units = {m["name"]: m["unit"] for m in layers["metrics"]}
    for st in stages:
        units.setdefault(f"stage.{st}.apply_ms", "ms")
        units.setdefault(f"stage.{st}.apply_jobs", "count")
    per_iter = []
    for it in traced:
        ids = [s["id"] for s in spans if s["iter"] == it["i"]]
        jobs = [j for i in ids for j in jobs_by_span.get(i, [])]
        phases = [ph for ph in res["phases"] if it["start_ms"] <= ph["start_ms"] <= it["end_ms"]]
        v = {}

        def under(name, key=None):
            sel = [i for i in ids if by_id[i]["name"] == name]
            if key is None:
                return sum(self_ms[i] for i in sel)
            return sum(j[key] for i in sel for j in jobs_by_span.get(i, []))

        def njobs(name):
            return sum(len(jobs_by_span.get(i, [])) for i in ids if by_id[i]["name"] == name)

        v["sources.load_ms"] = under("sources.load")
        v["sources.load_jobs"] = njobs("sources.load")
        v["sink.write_ms"] = under("sink.write")
        v["sink.bytes_written"] = under("sink.write", "bytes_written")
        v["sink.rows_written"] = under("sink.write", "records_written")
        v["pipeline.compile_ms"] = under("pipeline.compile")
        for st in stages:
            v[f"stage.{st}.apply_ms"] = under(f"stage.{st}.apply")
            v[f"stage.{st}.apply_jobs"] = njobs(f"stage.{st}.apply")
        v["scan.bytes_read"] = sum(j["bytes_read"] for j in jobs)
        v["scan.read_amplification"] = v["scan.bytes_read"] / info["bytes"]
        v["sql.executions"] = len(phases)
        for k in ("analysis", "optimization", "planning"):
            v[f"sql.{k}_ms"] = sum(ph[f"{k}_ms"] for ph in phases)
        v["exec.jobs"] = len(jobs)
        for k, src in (("stages", "stages"), ("tasks", "tasks"), ("task_ms", "task_ms"),
                       ("task_cpu_ms", "task_cpu_ms"), ("sched_wait_ms", "sched_wait_ms")):
            v[f"exec.{k}"] = sum(j[src] for j in jobs)
        v["exec.slot_idle_ratio"] = 1.0 - v["exec.task_ms"] / (it["ms"] * nproc_)
        v["shuffle.bytes_written"] = sum(j["shuffle_write"] for j in jobs)
        v["shuffle.bytes_read"] = sum(j["shuffle_read"] for j in jobs)
        v["shuffle.records"] = sum(j["shuffle_records"] for j in jobs)
        v["spill.bytes"] = sum(j["spill"] for j in jobs)
        v["jvm.gc_ms"] = it["gc_ms"]
        st = stub_stats.get(str(it["i"]))
        if st:
            status = {int(k): n for k, n in st["status"].items()}
            v["rest.requests"] = st["requests"]
            v["rest.useful_ratio"] = kept_rows.get(it["i"], 0) / max(1, st["requests"])
            v["rest.slot_occupancy"] = st["busy_s"] / (it["ms"] / 1000.0 * nproc_)
            v["rest.status_4xx"] = sum(n for c, n in status.items() if 400 <= c < 500)
            v["rest.status_5xx"] = sum(n for c, n in status.items() if c >= 500)
            v["rest.retries"] = st["retries"]
        per_iter.append(v)
    out = {}
    for name, unit in units.items():
        vals = [v.get(name, 0) for v in per_iter]
        out[name] = (median(vals), unit)
    q = [q for it in traced for q in it["queries"]]
    out["query.build_ms"] = (median([x["build_ms"] for x in q]), "ms")
    out["query.exec_ms"] = (median([x["exec_ms"] for x in q]), "ms")
    out["dialect.rewrite_ms"] = (median(res["rewrite_ms"]), "ms")
    untraced = median([it["ms"] for it in res["iters"]])
    out["trace.overhead"] = (median([it["ms"] for it in traced]) / untraced, "ratio")
    return out


# -------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    if args.workload not in settings["workloads"]:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    cfg = settings["workloads"][args.workload]
    root = os.getcwd()
    cp = build.build(root)
    DEADLINE[0] = time.time() + RUN_BUDGET_S
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    n = nproc()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    the_stub = None
    phases = {}
    t_phase = [time.time()]

    def phase(name):
        now = time.time()
        phases[name] = round(now - t_phase[0], 3)
        t_phase[0] = now

    try:
        base = {k: v.replace("{nproc}", str(n)).replace("{work}", work)
                for k, v in settings["spark_conf"].items()}
        base.update(workload=args.workload, seconds=args.seconds, trace=args.trace)
        plan = None
        if args.workload == "rest_enrich":
            import stub
            props, info = make_inputs(args.workload, cfg, args.seed, work)
            with open(os.path.join(work, "in", "plan.json")) as f:
                plan = json.load(f)
            the_stub = stub.Stub(plan, workers=n).start()
            with open(props["yaml"]) as f:
                text = f.read()
            with open(props["yaml"], "w") as f:
                f.write(text.replace("__PORT__", str(the_stub.port))
                        .replace("__THREADS__", str(n)))
        else:
            props, info = make_inputs(args.workload, cfg, args.seed, work)
        base.update(props, warmup_iters=cfg["warmup_iters"], min_iters=cfg["min_iters"])
        phase("inputs")
        setup = []
        for k in range(settings["setup_samples"] - 1):
            r = run_jvm(cp, settings, dict(base, mode="setup",
                                           result=os.path.join(work, f"setup-{k}.json")),
                        work, log)
            setup.append(r["setup_s"])
        phase("setup_probes")
        try:
            res = run_jvm(cp, settings, dict(base, mode="run",
                                             result=os.path.join(work, "result.json")),
                          work, log)
        except RuntimeError as e:
            # the program threw or hung: a failed run, not a result
            print(str(e), file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        setup.append(res["setup_s"])
        phase("main_jvm")
        stub_stats = {}
        if the_stub is not None:
            the_stub.stop()
            stub_stats = the_stub.snapshot()
            the_stub = None
        res["input_rows"] = info["rows"]
        catalog = cfg["kind"] == "catalog"
        kept = {}
        if catalog:
            oks, detail = check_catalog(res, props, n)
        else:
            okmap, digests = check_pipeline(args.workload, res, props, n, stub_stats, plan)
            oks = list(okmap.values())
            detail = {"digests": {str(k): v for k, v in digests.items()},
                      "failed_iters": [i for i, good in okmap.items() if not good]}
            if args.workload == "rest_enrich":
                kept = digests
        phase("checks")
        attempted = len(oks)
        failed = sum(1 for x in oks if not x)
        if args.trace:
            metrics = per_layer(res, info, n, stub_stats, layers, kept)
            samples = len(res["traced_iters"])
        else:
            metrics, samples = end_to_end(res, setup, info, catalog)
        details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "nproc": n, "jdk": res["jdk"], "spark": res["spark"],
                   "inputs": info, "setup_samples_s": setup,
                   "warmup_ms": [round(it["ms"]) for it in res["warmup"]],
                   "iterations": len(res["iters"]) + len(res.get("traced_iters", [])),
                   "iter_ms": [round(it["ms"]) for it in res["iters"] + res.get("traced_iters", [])],
                   "latency_samples": samples, "fail_ratio": failed / attempted,
                   "phase_s": phases, "checks": detail}
        print(json.dumps(details))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
        return 0 if failed == 0 else 1
    finally:
        if the_stub is not None:
            the_stub.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
