#!/usr/bin/env python3
"""graft's benchmark: one workload run, printed as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <gate_suite|stream_q5_open|sql_mix>
                           --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark package
(perfbench/scala, through sbt) and generates the parquet fixtures; later
runs reuse both while their inputs are unchanged. Everything a run writes
goes under .perfbench/ at the repository root.

The run starts one JVM (perfbench.Main) for the workload at local[nproc],
then checks the outputs outside the timed region: gate queries against
their DuckDB oracles, sampled SQL reads against DuckDB and the final IMap
against a last-writer-wins replay of the sinks (stream window counts are
checked inside the JVM). With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of a
traced run, and the trace's spans are written to .perfbench/runs/.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.1          # fixture scale factor: the gate's sf0.1
DATA_SEED = 42    # fixtures are fixed; the run seed drives the workloads only
JVM_HEAP = "4g"   # 20 sinks into one IMap ran out of 4 GB; 8 fit (README)
WORKLOADS = ("gate_suite", "stream_q5_open", "sql_mix")
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170  # every workload JVM of one run, traced reference included
FAMILIES = ("tpch", "event", "text", "embedding", "multimodal", "streaming", "sql",
            "corpus", "curation", "nexmark", "dag")
E2E = ("setup_s", "work_s", "op_p50_ms", "op_tail_ms")
STREAM_TAIL_PCT = 75.0  # stream_q5_open's op_tail_ms, over its ~8 batches
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout or
    interrupt, and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{cmd[0]} timed out after {timeout} s") from None
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


# ----------------------------------------------------------------- build

def fingerprint(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(os.path.join(top, "**", "*"), recursive=True)
            if os.path.isfile(f) and "/target/" not in f)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark package; return the classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    fp = fingerprint([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")])
    cp_file = os.path.join(bdir, "classpath.txt")
    fp_file = os.path.join(bdir, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log("building engine and benchmark (sbt)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(bdir, "sbt.log")
    t0 = time.time()
    with open(out, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=os.path.join(HERE, "scala"), stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, env=env)
    lines = [ln.strip() for ln in open(out) if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError(f"build failed (exit {rc}); see {out}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return lines[-1]


def fixtures():
    """The parquet fixtures, generated once per checkout."""
    sf, seed = SF, DATA_SEED
    d = os.path.join(WORK, "data", f"sf{sf}")
    marker = os.path.join(d, "_DONE")
    fp = fingerprint([os.path.join(HERE, "gen_fixtures.py")]) + f"/{sf}/{seed}"
    if os.path.exists(marker) and open(marker).read() == fp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    log(f"generating fixtures sf{sf}")
    rc = run_group([sys.executable, os.path.join(HERE, "gen_fixtures.py"), d, "--sf", str(sf),
                    "--seed", str(seed)], 600)
    if rc != 0:
        raise RuntimeError("fixture generation failed")
    with open(marker, "w") as fh:
        fh.write(fp)
    return d


# ------------------------------------------------------------------- JVM

def run_jvm(cp, data, workload, seed, seconds, trace, out, deadline):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cpus = os.cpu_count() or 1
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--out", out, "--cpus", str(cpus)]
    with open(os.path.join(out, "jvm.log"), "w") as fh:
        rc = run_group(cmd, max(1.0, deadline - time.time()), cwd=out, stdout=fh,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        raise RuntimeError(f"workload JVM exited {rc}; see {out}/jvm.log")
    return json.load(open(res))


# ---------------------------------------------------------------- checks

def oracle_check():
    """The gate's own checker, scripts/check.py: its canonicalisation (`canon`)
    and per-query oracle comparison (`check_one`)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    return check


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_gate(res, out, data):
    """Each query's output against its DuckDB oracle; returns failures."""
    check = oracle_check()
    bad = []
    oracles = res.get("oracles", {})
    for q in res.get("queries", []):
        name = q["name"]
        if not q["ok"]:
            continue
        if name not in oracles:
            bad.append(f"{name}: no oracle")
            continue
        con = duck(data)
        report = io.StringIO()
        try:
            with contextlib.redirect_stdout(report):
                _, failed = check.check_one(con, os.path.join(out, "gate"), name, oracles, 0, 0)
        finally:
            con.close()
        sys.stderr.write(report.getvalue())
        if failed:
            bad.append(f"{name}: result differs from its oracle")
    return bad


def check_sql(res, data):
    """Sampled reads against DuckDB (fixture tables) or a last-writer-wins
    replay of the sinks (IMap), and the final IMap against the full replay."""
    bad = []
    sinks = sorted(res.get("sinks", []), key=lambda s: s["i"])

    def store_at(i):
        kv = {-1: (0, 0)}
        for s in sinks:
            if s["i"] >= i:
                break
            for k, v in s["rows"]:
                kv[k] = (v, s["seq"])
        return kv

    canon = oracle_check().canon
    con = duck(data)
    try:
        for c in res.get("checks", []):
            got = canon([tuple(r) for r in c["rows"]], c["columns"])
            if c["template"].startswith("kv_"):
                kv = store_at(c["i"])
                con.execute("CREATE OR REPLACE TEMP TABLE kv(__key BIGINT, v BIGINT, seq BIGINT)")
                con.executemany("INSERT INTO kv VALUES (?, ?, ?)",
                                [(k, v, s) for k, (v, s) in kv.items()])
            q = con.execute(c["sql"])
            exp = canon(q.fetchall(), [d[0] for d in q.description])
            if got != exp:
                bad.append(f"statement {c['i']} ({c['template']}): result differs from DuckDB")
    finally:
        con.close()
    final = {k: (v, s) for k, v, s in res.get("final_store", [])}
    if final != store_at(math.inf):
        bad.append("final IMap differs from the last-writer-wins replay of the sinks")
    return bad


# --------------------------------------------------------------- metrics

def batch_latencies(rung):
    """Event-to-result latency of each measured non-empty micro-batch, in
    ascending order: the rows of one batch share its latency, so the batch
    is the sample."""
    return sorted(rung["latency_ms"])


def end_to_end(w, res):
    """The four end-to-end metrics, with the workload's meaning of each."""
    setup = stats.median(res["setup_s"])
    if w == "gate_suite":
        walls = [q["wall_ms"] for q in res["queries"]]
        _, t, _ = stats.tail(walls)
        return {"setup_s": setup, "work_s": sum(walls) / 1e3,
                "op_p50_ms": stats.median(walls), "op_tail_ms": t}
    if w == "stream_q5_open":
        rungs = {r["label"]: r for r in res["rungs"]}
        hi = batch_latencies(rungs["hi"])
        # work: busy seconds per million events at the hi rate. Tail: about
        # one batch a second is too few for a percentile with ten samples
        # beyond it; the slowest batch of ~8 spread 0.20 of its median over
        # ten seeds, the upper quartile 0.10, so the upper quartile
        return {"setup_s": setup, "work_s": rungs["hi"]["busy_s"] * 1e6 / rungs["hi"]["rows"],
                "op_p50_ms": stats.median(hi), "op_tail_ms": stats.quantile(hi, STREAM_TAIL_PCT)}
    sel = [s["ms"] for s in res["statements"] if s["kind"] == "select"]
    _, t, _ = stats.tail(sel)
    return {"setup_s": setup, "work_s": sum(s["ms"] for s in res["statements"]) / 1e3,
            "op_p50_ms": stats.median(sel), "op_tail_ms": t}


def sustained(rungs):
    """Throughput at the first ladder rung the engine could not keep up with
    (its measured rows per second), else the top rung's rate."""
    ladder = [r for r in rungs if r["label"].startswith("ladder")]
    for r in ladder:
        if not r["kept_up"]:
            return r["processed_rps"]
    return float(ladder[-1]["rate"]) if ladder else 0.0


def per_layer(w, res, names):
    m = {k: 0.0 for k in names}
    m.update(res.get("layers", {}))
    m["env.nproc"] = res["nproc"]
    m["env.load_avg"] = res["load_avg_start"]
    m["env.heap_max_mb"] = res["heap_max_mb"]
    ops = res["attempted"]
    m["codegen.compiles_per_stmt"] = m["codegen.compiles"] / max(1, ops)
    if w == "gate_suite":
        qs = res["queries"]
        m["queries.build_s"] = sum(q["build_ms"] for q in qs if q["ok"]) / 1e3
        m["queries.materialize_s"] = sum(q["materialize_ms"] for q in qs if q["ok"]) / 1e3
        apq = res.get("actions_per_query", {})
        m["queries.actions"] = sum(apq.values()) / max(1, len(apq))
        for f in FAMILIES:
            m[f"gate.{f}_s"] = sum(q["wall_ms"] for q in qs if q["family"] == f) / 1e3
        m["gate.stream_total_s"] = sum(q["wall_ms"] for q in qs if q["stream"]) / 1e3
        p, _, n = stats.tail([q["wall_ms"] for q in qs])
    elif w == "stream_q5_open":
        rungs = {r["label"]: r for r in res["rungs"]}
        for lab in ("lo", "hi"):
            xs = batch_latencies(rungs[lab])
            m[f"q5.p50_ms_{lab}"] = stats.quantile(xs, 50)
            m[f"q5.p99_ms_{lab}"] = stats.quantile(xs, 99)
        m["q5.sustained_rps"] = sustained(res["rungs"])
        ok = [r["rate"] for r in res["rungs"] if r["label"].startswith("ladder") and r["kept_up"]]
        m["q5.ladder_top_ok_rps"] = float(max(ok)) if ok else 0.0
        hi = rungs["hi"]
        m["source.backlog_rows"] = max(hi["backlog_rows"]) if hi["backlog_rows"] else 0.0
        m["source.lag_ms"] = stats.median(hi["lag_ms"]) if hi["lag_ms"] else 0.0
        m["pipeline.start_ms"] = stats.median([rungs[lab]["start_ms"] for lab in ("lo", "hi")])
        base = res.get("baseline_local1")
        if base:
            xs = batch_latencies(base)
            m["baseline1.q5_p50_ms_lo"] = stats.quantile(xs, 50)
            m["baseline1.q5_p99_ms_lo"] = stats.quantile(xs, 99)
            m["baseline1.busy_s_per_m"] = base["busy_s"] * 1e6 / max(1, base["rows"])
        p, n = STREAM_TAIL_PCT, len(hi["latency_ms"])
    else:
        st = res["statements"]
        m["sql.execute_ms"] = sum(s["execute_ms"] for s in st)
        m["sql.fetch_ms"] = sum(s["fetch_ms"] for s in st)
        sinks = [s["ms"] for s in st if s["kind"] == "sink"]
        m["keyedstore.upsert_ms"] = sum(s["execute_ms"] for s in st if s["kind"] == "sink")
        m["sql.sink_p50_ms"] = stats.median(sinks)
        # too few sinks for a tail percentile: the slowest one
        m["sql.sink_max_ms"] = max(sinks)
        m["sql.stmts_per_s"] = len(st) / max(1e-9, sum(s["ms"] for s in st) / 1e3)
        p, _, n = stats.tail([s["ms"] for s in st if s["kind"] == "select"])
    m["op.tail_pct"] = p
    m["op.samples"] = n
    return m


def declared(section):
    """(name, unit) of every metric BENCHMARK.json declares in `section`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(x["name"], x["unit"]) for x in json.load(fh)[section]]


# ------------------------------------------------------------------ main

def one_run(cp, data, w, seed, seconds, trace, deadline):
    out = os.path.join(WORK, "runs", f"{w}-s{seed}-t{trace}")
    t0 = time.time()
    res = run_jvm(cp, data, w, seed, seconds, trace, out, deadline)
    log(f"{w} seed={seed} trace={trace}: JVM {time.time() - t0:.1f} s, "
        f"nproc={res['nproc']} load_avg={res['load_avg_start']:.2f}->{res['load_avg_end']:.2f} "
        f"heap_max_mb={res['heap_max_mb']}")
    bad = list(res.get("failures", []))
    t1 = time.time()
    if w == "gate_suite":
        bad += check_gate(res, out, data)
    elif w == "sql_mix":
        bad += check_sql(res, data)
    log(f"output checks {time.time() - t1:.1f} s, {len(bad)} failure(s)")
    for b in bad[:20]:
        log(f"FAIL {b}")
    res["_failed"] = len(bad)
    try:
        res["_e2e"] = end_to_end(w, res)
    except (KeyError, ValueError) as e:  # the workload stopped before its samples
        log(f"no metrics: {e!r}")
        res["_e2e"] = None
    return res, out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        log("no engine sources next to the benchmark (build.sbt, src/): nothing to measure")
        return 2
    try:
        cp = build()
        data = fixtures()
        deadline = time.time() + RUN_BUDGET_S
        res, out = one_run(cp, data, a.workload, a.seed, a.seconds, a.trace, deadline)
        if res["_e2e"] is None:
            raise RuntimeError("workload did not complete; see " + out)
        if a.trace:
            m = per_layer(a.workload, res, [n for n, _ in declared("per_layer")])
            base = untraced_reference(cp, data, a, deadline)
            for k in E2E:
                m[f"overhead.{k}"] = res["_e2e"][k] - base[k]
            metrics = {k: {"value": m[k], "unit": u} for k, u in declared("per_layer")}
            log(f"spans: {res.get('spans', 0)} in {out}/spans.jsonl")
        else:
            metrics = {k: {"value": res["_e2e"][k], "unit": u} for k, u in declared("end_to_end")}
            save_untraced(a.workload, a.seed, res["_e2e"])
    except Exception as e:  # noqa: BLE001 - report and fail without a result line
        log(f"error: {e}")
        return 1
    print(json.dumps({"correct": res["_failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["_failed"]), "metrics": metrics}))
    return 0


def untraced_dir(w):
    """Untraced results of this build and configuration only."""
    fp = open(os.path.join(WORK, "build", "fingerprint.txt")).read()[:16]
    here = fingerprint([os.path.join(HERE, "run.py")])[:8]
    return os.path.join(WORK, "untraced", f"{fp}-{here}", w)


def save_untraced(w, seed, e2e):
    d = untraced_dir(w)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"seed{seed}.json"), "w") as fh:
        json.dump(e2e, fh)


def untraced_reference(cp, data, a, deadline):
    """End-to-end metrics of untraced runs of this workload in this checkout
    (median per metric); if there are none yet, one untraced run now."""
    d = untraced_dir(a.workload)
    runs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(d, "*.json")))]
    if not runs:
        res, _ = one_run(cp, data, a.workload, a.seed, a.seconds, 0, deadline)
        if res["_e2e"] is None:
            raise RuntimeError("untraced reference run did not complete")
        save_untraced(a.workload, a.seed, res["_e2e"])
        runs = [res["_e2e"]]
    return {k: stats.median([r[k] for r in runs]) for k in E2E}


if __name__ == "__main__":
    sys.exit(main())
