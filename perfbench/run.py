"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <convert|registry|refinery|stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (``perfbench/build.sbt``); later runs reuse the
build while the sources are unchanged. Each run then

1. generates the workload's inputs from ``--seed`` (three times, to time
   set-up by its median; with ``--trace 1`` also the inputs of the
   workload's blocks, once and untimed),
2. starts one JVM running ``graftbench.Main`` on ``local[4]`` with the
   shipped ``GraftSession.local`` posture and one closed-loop client,
3. checks the outputs, and prints the workload's named metrics on one line
   and, as the last line, the result object: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes lives under ``.bench_work/`` in the checkout and
is removed at exit. ``perfbench/README.md`` documents the metrics.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("convert", "registry", "refinery", "stream")
MIX = ["q01_scan_sort", "q10_join_revenue_by_nation", "q14_sessionize",
       "q32_minhash_lsh_pairs", "q155_containment_pairs", "q138_bm25",
       "q208_grouped_mad", "q213_dupgraph_delete", "q239_prefix_filter_join",
       "q110_editdist_maxdist2", "q137_pagerank"]
SINKS = ("cms_monitor", "line_dedup", "index_partials")
GEN_REPEATS = 3
DEADLINE_S = 170          # the whole run, build excluded
BUILD_DEADLINE_S = 840
JVM_HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# End-to-end metrics: every workload reports all of them (see README.md).
END_TO_END = {"setup_s": "s", "rate_per_s": "1/s", "latency_s": "s"}

# Per-layer metrics of the traced run; a layer a workload does not use
# reports 0.
PER_LAYER = {
    "session.start_s": "s", "inputs.gen_s": "s", "warmup_s": "s",
    "scan.parquet_decode_s": "s", "scan.csv_parse_s": "s",
    "scan.input_mb": "MB", "plans.csv_ts_s": "s",
    "convert.csv_encode_write_s": "s", "convert.parquet_encode_write_s": "s",
    "convert.csv_bytes_per_row": "B/row", "convert.files_out": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.task_wait_s": "s", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.core_util": "frac", "spark.driver_s": "s",
    **{f"query.{q}_s": "s" for q in MIX},
    "queries.driver_s": "s", "queries.exchanges": "count",
    "pool.builds": "count", "pool.build_s": "s", "pool.keys": "count",
    "pool.evictions": "count", "pool.warm_hit_frac": "frac",
    "pool.tracked_after_release": "count",
    "refinery.clean_s": "s", "refinery.containment_s": "s",
    "refinery.card_s": "s", "refinery.curriculum_s": "s",
    "refinery.export_s": "s", "refinery.kept_frac": "frac",
    **{f"stream.{s}.batch_p50_s": "s" for s in SINKS},
    "stream.batch_growth": "x", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.query_planning_s": "s",
    "stream.read_amplification": "x", "stream.state_files": "count",
    "stream.state_mb": "MB",
    "trace.overhead_frac": "frac", "trace.span_self_s": "s",
    "trace.wall_s": "s", "trace.self_frac": "frac",
    # the workloads' named end-to-end numbers, from the untraced phase
    "csv_write_rows_per_s": "1/s", "csv_read_rows_per_s": "1/s",
    "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "query_tail_pct": "%", "query_tail_samples": "count",
    "pool_mb": "MB", "refinery_docs_per_s": "1/s", "stream_rows_per_s": "1/s",
    "late_batch_s": "s", "fail_frac": "frac",
}


def cpu_probe(n=1_000_000, repeats=3):
    """Seconds of a fixed single-threaded loop, median of ``repeats``. It
    is taken before and after the JVM runs and printed on the detail line:
    when the machine as a whole runs slower, this shows it apart from the
    engine's own numbers."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds the engine and the harness unless an up-to-date build
    exists; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at the checkout root {ROOT}: nothing to build")
    stamp = _source_stamp()
    cache = os.path.join(HERE, "target", "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp and all(
                os.path.exists(p) for p in c["classpath"].split(os.pathsep)):
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        code = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HERE, fh, env,
                    BUILD_DEADLINE_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def _run(cmd, cwd, out, env, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it to end. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- metrics

def _ops(phase, kind):
    return [o for o in phase["ops"] if o["kind"] == kind]


def _batches(op, sink):
    """Micro-batch durations (s) of one sink in one stream op, in arrival
    order."""
    return [b["ms"]["triggerExecution"] / 1e3 for s in op["sinks"]
            if s["sink"] == sink for b in s["batches"]]


def named_metrics(workload, phase):
    """The workload's own end-to-end numbers, by their names."""
    m = {}
    if workload == "convert":
        m["csv_write_rows_per_s"] = stats.median(
            [o["rows"] / o["s"] for o in _ops(phase, "write")])
        m["csv_read_rows_per_s"] = stats.median(
            [o["rows"] / o["s"] for o in _ops(phase, "read")])
    elif workload == "registry":
        warm = [o["s"] for o in phase["ops"] if o["pass"] > 1]
        m["cold_pass_s"] = phase["passes"][0]
        m["warm_pass_s"] = stats.median(phase["passes"][1:])
        m["query_p50_s"] = stats.median(warm)
        tail = stats.tail_percentile(warm)
        if tail:
            m["query_tail_pct"], m["query_tail_s"], m["query_tail_samples"] = tail
        m["pool_mb"] = phase["pool_mb"]
    elif workload == "refinery":
        m["refinery_docs_per_s"] = end_to_end(workload, phase)["rate_per_s"]
    elif workload == "stream":
        e = end_to_end(workload, phase)
        m["stream_rows_per_s"], m["late_batch_s"] = e["rate_per_s"], e["latency_s"]
    return m


def _late_batches(ops):
    """Durations of the last quarter of each sink's micro-batches."""
    return [d for o in ops for s in SINKS
            for d in stats.quarters(_batches(o, s))[1]]


def end_to_end(workload, phase):
    """The end-to-end metrics every workload reports (README.md):
    ``rate_per_s``, items over the summed seconds of the measured ops, and
    ``latency_s``, the workload's headline latency."""
    ops = phase["ops"]
    if workload == "convert":
        # rows through both directions of the round trip
        rate = sum(o["rows"] for o in ops) / sum(o["s"] for o in ops)
        latency = stats.median([o["s"] for o in _ops(phase, "write")])
    elif workload == "registry":
        # cold and warm requests: pool builds and pool hits both count
        rate = len(ops) / sum(o["s"] for o in ops)
        # a warm pass over the whole mix: a sum over the mix is steadier
        # than any one request's time
        passes = {}
        for o in ops:
            if o["pass"] > 1:
                passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["s"]
        latency = stats.median(list(passes.values()))
    elif workload == "refinery":
        rate = sum(o["n_input"] for o in ops) / sum(o["s"] for o in ops)
        latency = stats.median([o["s"] for o in ops])
    else:
        rate = sum(o["rows"] for o in ops) / sum(o["s"] for o in ops)
        latency = stats.median(_late_batches(ops))
    return {"rate_per_s": rate, "latency_s": latency}


def _layer_metrics(workload, phase, probes, untraced=None):
    """Per-layer numbers of one workload's layers. ``phase`` is its traced
    phase; ``untraced`` its untraced one, when it had one."""
    m = dict(probes)
    base = untraced or phase
    if workload == "registry":
        warm = [o for o in base["ops"] if o["pass"] > 1]
        for q in MIX:
            m[f"query.{q}_s"] = stats.median([o["s"] for o in warm if o["name"] == q])
        m["queries.exchanges"] = sum(phase["exchanges"].values())
        m["pool.builds"] = sum(o["builds"] for o in base["ops"])
        m["pool.build_s"] = sum(o["build_s"] for o in base["ops"])
        m["pool.keys"] = base["pool_keys"]
        m["pool.evictions"] = sum(o["evictions"] for o in base["ops"])
        m["pool.warm_hit_frac"] = stats.warm_hit_frac(base["ops"])
        m["pool.tracked_after_release"] = max(
            o["tracked_after_release"] for o in base["ops"])
    elif workload == "refinery":
        m["refinery.kept_frac"] = stats.median(
            [o["n_curated"] / o["n_input"] for o in base["ops"]])
    elif workload == "stream":
        per_sink = {s: [] for s in SINKS}
        growth = []
        for o in phase["ops"]:
            for s in SINKS:
                d = _batches(o, s)
                per_sink[s] += d
                growth.append(stats.late_and_growth(d)[1])
        for s in SINKS:
            m[f"stream.{s}.batch_p50_s"] = stats.median(per_sink[s])
        m["stream.batch_growth"] = stats.median(growth)
        lb = probes["listener_batches"]
        for key, name in (("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                          ("queryPlanning", "query_planning_s")):
            m[f"stream.{name}"] = stats.median([b["ms"].get(key, 0) / 1e3 for b in lb])
        read = probes["records_read_by_batch"]
        rows = sum(b["rows"] for b in lb)
        got = sum(read.get(f'{b["query_id"]}/{b["batch"]}', 0) for b in lb)
        m["stream.read_amplification"] = got / rows if rows else 0.0
        m["stream.state_files"] = phase["state_files"]
        m["stream.state_mb"] = phase["state_mb"]
    m.update(named_metrics(workload, base))
    return m


def per_layer(workload, res, gen_s, failed, attempted):
    """Every per-layer metric of the traced run; 0 for a layer neither the
    workload nor its blocks use."""
    m = {k: 0.0 for k in PER_LAYER}
    un, tr, tsum = res["untraced"], res["traced"], res["trace"]
    top = tsum["top_wall_s"]
    m.update({
        "session.start_s": res["session_start_s"], "inputs.gen_s": gen_s,
        "warmup_s": res["warmup_s"],
        "spark.executor_cpu_s": tsum["executor_cpu_s"],
        "spark.executor_run_s": tsum["executor_run_s"],
        "spark.gc_s": tsum["gc_s"], "spark.task_wait_s": tsum["task_wait_s"],
        "spark.tasks": tsum["tasks"], "spark.tasks_failed": tsum["tasks_failed"],
        "spark.shuffle_write_mb": tsum["shuffle_write_mb"],
        "spark.shuffle_read_mb": tsum["shuffle_read_mb"],
        "spark.spill_mb": tsum["spill_mb"],
        "spark.core_util": tsum["executor_run_s"] / (top * tsum["cores"]),
        "spark.driver_s": tsum["driver_s"],
        "trace.span_self_s": tsum["self_s"], "trace.wall_s": tr["wall_s"],
        "trace.self_frac": tsum["self_s"] / tr["wall_s"],
        "trace.overhead_frac": end_to_end(workload, tr)["latency_s"]
        / end_to_end(workload, un)["latency_s"] - 1.0,
    })
    if workload == "registry":
        m["queries.driver_s"] = tsum["driver_s"]
    m.update(_layer_metrics(workload, tr, res["layers"], un))
    for name, b in res["blocks"].items():
        m.update(_layer_metrics(name, b["phase"], b["probes"]))
    m["fail_frac"] = failed / attempted
    return {k: m[k] for k in PER_LAYER}


# ---------------------------------------------------------------- checks

def verify(workload, ops, checks, pins):
    """(attempted, failed, notes) over one workload's measured operations;
    a failed output check fails the operation it belongs to."""
    if workload == "registry":
        want = pins["registry"]
        bad = [o for o in ops if [o["rows"], o["hash"]] != want[o["name"]]]
        return len(ops), len(bad), [
            f'{o["name"]} pass {o["pass"]}: {o["rows"]} rows, digest {o["hash"]}'
            for o in bad]
    if workload == "refinery":
        # report counts equal the pinned ones and the shard manifest sums
        # to nCurated, for every measured Refinery.run
        want = pins["refinery"]
        by_op = {c["op"]: c for c in checks}
        notes = []
        for o in ops:
            c = by_op[o["op"]]
            got = {k: c[k] for k in want}
            if got != want or c["manifest_rows"] != c["n_curated"]:
                notes.append(f'refinery op {o["op"]}: {got}, manifest '
                             f'{c["manifest_rows"]}')
        return len(ops), len(notes), notes
    notes = [f'op {c["op"]} {c["name"]}: {c["detail"]}'
             for c in checks if not c["ok"]]
    failed_ops = {c["op"] for c in checks if not c["ok"]}
    measured = {o["op"] for o in ops}
    # a failed check of an output no measured op owns still counts once
    extra = len(failed_ops - measured)
    return len(ops) + extra, len(failed_ops & measured) + extra, notes


def verify_run(workload, res, pins):
    """verify() over the run's own phases and over each traced block."""
    own = [c for c in res["checks"] if "block" not in c]
    ops = [o for p in ("untraced", "traced")
           for o in res.get(p, {}).get("ops", [])]
    totals = [verify(workload, ops, own, pins)]
    for name, b in res.get("blocks", {}).items():
        totals.append(verify(name, b["phase"]["ops"],
                             [c for c in res["checks"] if c.get("block") == name],
                             pins))
    return (sum(t[0] for t in totals), sum(t[1] for t in totals),
            [n for t in totals for n in t[2]])


def oracle_check(dump, sf_dir):
    """Before registry results are pinned, each must equal its DuckDB
    oracle SQL on the same inputs: columns by name, rows in order, exact
    values."""
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    with open(f"{dump}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    for q in MIX:
        parts = sorted(os.path.join(dump, q, f) for f in os.listdir(f"{dump}/{q}")
                       if f.endswith(".parquet"))
        cols = sorted(con.sql(f"SELECT * FROM read_parquet({parts!r})").columns)
        sel = ", ".join(f'"{c}"' for c in cols)
        got = con.sql(f"SELECT {sel} FROM read_parquet({parts!r})").fetchall()
        if q not in oracle:
            if not got:
                fail(f"{q}: empty result and no oracle; not pinned")
            continue
        want_cols = sorted(con.sql(oracle[q]).columns)
        want = con.sql(f"SELECT {sel} FROM ({oracle[q]}) o").fetchall() \
            if want_cols == cols else None
        if want != got:
            fail(f"{q}: result differs from its DuckDB oracle; not pinned")
        print(f"perfbench: {q} equals its oracle ({len(got)} rows)",
              file=sys.stderr)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true",
                    help="record this run's registry/refinery results as the "
                         "pinned values instead of checking them")
    a = ap.parse_args()
    t_start = time.monotonic()
    cp = classpath()
    t_run = time.monotonic()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpu_s = [cpu_probe()]
        # set-up: inputs from the seed, generated several times and timed
        # by the median (test_stats.py shows the copies are identical)
        inputs = f"{work}/in"
        gen_times = []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.monotonic()
            gen.generate(a.workload, a.seed, inputs)
            gen_times.append(time.monotonic() - t0)
        gen_s = stats.median(gen_times)
        digests = gen.digests(inputs)
        if a.trace:
            gen.generate_blocks(a.workload, a.seed, inputs)
            digests = gen.digests(inputs)

        order = list(MIX)
        random.Random(a.seed).shuffle(order)
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(f"{work}/{d}")
        result = f"{work}/result.json"
        cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}",
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/spark-local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
                "--in", inputs, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--result", result, "--order", ",".join(order)]
        if a.write_pins and a.workload == "registry":
            cmd += ["--dump", f"{work}/dump"]
        log = f"{work}/jvm.log"
        t_jvm = time.monotonic()
        with open(log, "w") as fh:
            code = _run(cmd, work, fh, dict(os.environ),
                        DEADLINE_S - (time.monotonic() - t_run))
        jvm_s = time.monotonic() - t_jvm
        cpu_s.append(cpu_probe())
        if code != 0 or not os.path.exists(result):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail(f"harness JVM failed (exit {code})")
        with open(result) as fh:
            res = json.load(fh)

        pins_path = os.path.join(HERE, "pins.json")
        with open(pins_path) as fh:
            pins = json.load(fh)
        if a.write_pins:
            if a.workload == "registry":
                oracle_check(f"{work}/dump", inputs)
                pins["registry"] = {o["name"]: [o["rows"], o["hash"]]
                                    for o in sorted(res["untraced"]["ops"],
                                                    key=lambda o: o["name"])
                                    if o["pass"] == 1}
            elif a.workload == "refinery":
                c = res["checks"][0]
                pins["refinery"] = {k: c[k] for k in
                                    ("n_input", "n_cleaned", "n_curated",
                                     "n_quality_kept")}
            with open(pins_path, "w") as fh:
                json.dump(pins, fh, indent=1, sort_keys=True)
                fh.write("\n")
        attempted, failed, notes = verify_run(a.workload, res, pins)

        setup_s = res["session_start_s"] + gen_s + res["warmup_s"]
        named = named_metrics(a.workload, res["untraced"])
        named["setup_s"] = setup_s
        named["fail_frac"] = failed / attempted
        detail = {"workload": a.workload, "seed": a.seed,
                  "input_digest": gen.combined_digest(digests),
                  "inputs": digests, "cpu_probe_s": cpu_s,
                  "loop": "closed, 1 client, local[4]",
                  "named_metrics": {k: {"value": v, "unit": PER_LAYER.get(
                      k, END_TO_END.get(k, ""))} for k, v in named.items()},
                  "failures": notes[:20],
                  "timings_s": {"build": t_run - t_start, "jvm": jvm_s,
                                "session": res["session_start_s"],
                                "warmup": res["warmup_s"],
                                "phase": res["untraced"]["wall_s"],
                                "checks": res["checks_s"],
                                "run": time.monotonic() - t_start}}
        detail["op_s"] = [round(o["s"], 3) for o in res["untraced"]["ops"]]
        if a.workload == "registry":
            detail["query_s"] = {o["name"]: [round(x["s"], 3) for x in res["untraced"]["ops"]
                                             if x["name"] == o["name"]]
                                 for o in res["untraced"]["ops"] if o["pass"] == 1}
            detail["pool_at_cap_ops"] = sum(o["at_cap"] for o in res["untraced"]["ops"])
        if a.trace:
            metrics = per_layer(a.workload, res, gen_s, failed, attempted)
            units = PER_LAYER
            detail["by_span"] = res["trace"]["by_span"]
            # [id, name, parent id or -1, op id, start s, end s]
            detail["spans"] = res["trace"]["spans"]
        else:
            metrics = end_to_end(a.workload, res["untraced"])
            metrics["setup_s"] = setup_s
            units = END_TO_END
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
