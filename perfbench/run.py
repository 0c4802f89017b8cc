#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: registry queries, the Mats scale
path, streaming, and the IngestionRunner pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/harness), later runs reuse the build
while the sources are unchanged. Each run starts one fresh JVM, prints one
record line (every figure the run measured, with host evidence), and then,
as the last line, the result object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics; the traced run also writes its span
file next to the record under perfbench/.work/records/. Exit code 0 only
when every op ran and every output check passed. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
# the JVMs of one run, build excluded, must end within this many seconds
RUN_DEADLINE_S = 165
# cold set-ups per run, one per fresh JVM: the measuring JVM and
# SETUPS - 1 JVMs that only set up; setup_s is their median
SETUPS = 2

with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)

# Spark 4 on JDK 17 outside spark-submit (same list as the program's build)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


# ------------------------------------------------------------------- build

def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt")]
    files += glob.glob(os.path.join(root, "project", "*.properties"))
    files += glob.glob(os.path.join(root, "project", "*.sbt"))
    files += glob.glob(os.path.join(root, "src", "main", "**", "*"), recursive=True)
    files += [os.path.join(HARNESS, "build.sbt")]
    files += glob.glob(os.path.join(HARNESS, "project", "*.properties"))
    files += glob.glob(os.path.join(HARNESS, "src", "**", "*"), recursive=True)
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError("program sources not found: run from the repository root")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isfile(CLASSPATH) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    log("building program and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t0


# -------------------------------------------------------------------- data

def tables_dir(sf):
    """The registry tables at scale ``sf``, generated once per checkout and
    reused while the generator version matches."""
    d = os.path.join(WORK, "data", f"sf{sf}-v{gen.GEN_VERSION}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, sf)
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write(json.dumps({"sf": sf, "seed": gen.DATA_SEED}))
    return d


def plan_lines(w, seed, scratch):
    """The op lists of one run's warm-up pass and timed passes. Query
    workloads: their fixed key set in an order drawn from the seed, the same
    in both. Ingest: landing batches drawn from the seed; the warm-up pass
    runs the same kinds of step on other batches, of the smaller size
    ``warm`` names (the same code paths, in a fraction of the time)."""
    if "keys" in w:
        keys = list(w["keys"])
        random.Random(seed).shuffle(keys)
        lines = [f"key\t{k}" for k in keys]
        return lines, lines, None
    p = w["ingest"]
    warm, _ = ingest_lines(os.path.join(scratch, "warm"), seed + 1, dict(p, **w["warm"]))
    lines, fixture = ingest_lines(os.path.join(scratch, "fixtures"), seed, p)
    return warm, lines, fixture


def ingest_lines(out, seed, p):
    steps, expect, checksum = gen.ingest(out, seed, **p)
    lines = []
    quarantined = 0
    for (kind, path), e in zip(steps, expect):
        if kind in ("load", "merge", "optimize"):
            lines.append(f"{kind}\t{path}\t{e['rows']}\t{e['quarantined']}")
            quarantined += e["quarantined"]
        elif kind == "vacuum":
            lines.append("vacuum")
        else:
            lines.append(f"drain\t{path}\t{e['rows']}")
    lines.append("check\t" + "\t".join(str(x) for x in checksum + [quarantined]))
    return lines, {"seed": seed, "steps": len(steps), "checksum": checksum}


# ----------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with at least ten samples beyond it, by
    nearest rank: the (n-10)th smallest of n samples, with the sample count.
    Below 22 samples that value is not above the median, and no tail is
    reported (None)."""
    v = sorted(values)
    n = len(v)
    if n < 22:
        return None, None, n
    return v[n - 11], round(100.0 * (n - 10) / n, 1), n


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def layer_metrics(rec, spans, ops, overhead):
    """Per-layer metrics of the traced pass ``ops`` from the run's counters
    and spans; ``overhead`` is traced ÷ untraced pass wall time."""
    stats = rec["op_stats"]

    def op_stat(o, k):
        return stats.get(str(o["id"]), {}).get(k, 0)

    def tot(k):
        return sum(op_stat(o, k) for o in ops)

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def phase_s(name):
        return [(c["end_ms"] - c["start_ms"]) / 1e3 for o in ops
                for c in children.get(o["span"], []) if c["name"] == name]

    def job_s(o):
        """Time covered by the jobs under the op's span."""
        out, todo = [], [o["span"]]
        while todo:
            for c in children.get(todo.pop(), []):
                if c["name"] == "job":
                    out.append((c["start_ms"], c["end_ms"]))
                else:
                    todo.append(c["id"])
        return union_ms(out) / 1e3

    run_ops = [o for o in ops if o["kind"] in ("load", "merge", "optimize", "drain")]
    keys = [o for o in ops if o["kind"] == "key"]
    wall = sum(o["wall_s"] for o in ops)
    cpus = rec["host"]["cpus"]
    merges = [o for o in run_ops if o["kind"] == "merge"]
    vac = [o for o in ops if o["kind"] == "vacuum"]
    check = [o for o in rec["ops"] if o["kind"] == "check" and o["pass"] == 1]
    src = sum(o.get("source_bytes", 0) for o in run_ops)
    written = sum(op_stat(o, "written") for o in run_ops)
    batches = tot("batches")
    mean = lambda v: sum(v) / len(v) if v else 0.0  # noqa: E731
    med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    skews = [x for o in ops for x in stats.get(str(o["id"]), {}).get("skews", [])]
    setups = rec["setups"]
    m = {
        "tables.load_ms": med(rec["tables_load_ms"]),
        "operators.build_s": mean(phase_s("body")),
        "operators.eager_jobs": tot("body_jobs"),
        "plans.plan_s": mean(phase_s("plan")),
        "plans.exchanges": sum(o["plan"].get("exchanges", 0) for o in keys),
        "plans.scans": sum(o["plan"].get("scans", 0) for o in keys),
        "plans.smj": sum(o["plan"].get("smj", 0) for o in keys),
        "plans.unpartitioned_windows": sum(o["plan"].get("unpartitioned_windows", 0) for o in keys),
        "exec.run_s": mean([job_s(o) for o in ops]),
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.shuffle_mb": tot("shuffle_write") / 1048576,
        "exec.spill_mb": tot("spill") / 1048576,
        "exec.input_mb": tot("input") / 1048576,
        "exec.task_skew": med(skews),
        "exec.slot_busy": tot("task_ms") / (wall * 1e3 * cpus) if wall else 0.0,
        "exec.task_wait_s": tot("task_wait_ms") / 1e3,
        "mats.held_rdds": sum(o.get("held_rdds", 0) for o in keys),
        "mats.held_mb": sum(o.get("held_mb", 0.0) for o in keys),
        "mats.release_ms": mean([o["release_ms"] for o in keys if "release_ms" in o]),
        "session.pinned_rdds": keys[-1].get("pinned_rdds", 0) if keys else 0,
        "session.pinned_mb": keys[-1].get("pinned_mb", 0.0) if keys else 0.0,
        "session.gc_s": med([s["gc_s"] for s in setups]),
        "session.jit_s": med([s["jit_s"] for s in setups]),
        "pipeline.driver_gap_s": mean([o["wall_s"] - job_s(o) for o in run_ops]),
        "pipeline.jobs_per_merge": mean([op_stat(o, "jobs") for o in merges]),
        "pipeline.write_mb": written / 1048576,
        "pipeline.write_amp": written / src if src else 0.0,
        "pipeline.rows_written": sum(int(o.get("result", 0)) for o in run_ops
                                     if str(o.get("result", "")).isdigit()),
        "pipeline.quarantined_rows": int(check[0]["got"].split(";")[1]) if check and ";" in check[0].get("got", "") else 0,
        "pipeline.load_s": sum(o["wall_s"] for o in run_ops if o["kind"] == "load"),
        "pipeline.merge_p50_s": med([o["wall_s"] for o in merges]),
        "pipeline.optimize_s": sum(o["wall_s"] for o in run_ops if o["kind"] == "optimize"),
        "pipeline.drain_s": sum(o["wall_s"] for o in run_ops if o["kind"] == "drain"),
        "versioned.vacuum_ms": sum(o["wall_s"] for o in vac) * 1e3,
        "versioned.versions_on_disk": sum(o.get("versions_on_disk", 0) for o in vac),
        "versioned.space_amp": sum(o.get("space_amp", 0.0) for o in vac),
        "streaming.batches": batches,
        "streaming.batch_ms": tot("batch_ms") / batches if batches else 0.0,
        "streaming.planning_ms": tot("planning_ms") / batches if batches else 0.0,
        "streaming.wal_commit_ms": tot("wal_ms") / batches if batches else 0.0,
        "streaming.offset_ms": tot("offset_ms") / batches if batches else 0.0,
        "streaming.state_rows": max([op_stat(o, "state_rows") for o in ops] or [0]),
        "streaming.state_mb": max([op_stat(o, "state_bytes") for o in ops] or [0]) / 1048576,
        "streaming.state_commit_ms": tot("state_commit_ms"),
        "trace.overhead": overhead,
    }
    return m


def self_times(spans):
    """Self time per span name: duration minus the time its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        d = max(0.0, s["end_ms"] - s["start_ms"])
        cover = union_ms([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                          for c in children.get(s["id"], []) if c["end_ms"] > c["start_ms"]])
        name = s["name"].split(":")[0]
        out[name] = out.get(name, 0.0) + (d - cover) / 1e3
    return {k: round(v, 4) for k, v in out.items()}


# -------------------------------------------------------------------- main

def check_keys(ops, expected, sf):
    """Compare each key's result fingerprint with the committed value."""
    want = expected.get(f"sf{sf}", {})
    bad = []
    for o in ops:
        if o["kind"] != "key" or not o.get("ok"):
            continue
        e = want.get(o["name"])
        if e is None:
            o["ok"], o["err"] = False, "no expected fingerprint"
        elif o["rows"] != e["rows"] or (e.get("hash") is not None and o["hash"] != e["hash"]):
            o["ok"] = False
            o["err"] = f"fingerprint {o['rows']}/{o['hash']} != expected {e['rows']}/{e.get('hash')}"
        if not o["ok"]:
            bad.append(o["name"])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the tiny sf0.001 tables (the smoke tests)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="committed key fingerprints to check against")
    ap.add_argument("--record-expected", help="write the observed fingerprints here")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
    w = dict(WORKLOADS[args.workload])
    sf = 0.001 if args.smoke else w["sf"]
    if args.smoke and "ingest" in w:
        w["ingest"] = dict(w["ingest"], base_rows=2000, merges=12, stream_rows=500)
        w["warm"] = dict(w["warm"], base_rows=2000)
    root = os.getcwd()
    host = {"loadavg_start": loadavg(), "nproc": os.cpu_count()}
    build_s = build(root)
    deadline = time.time() + RUN_DEADLINE_S
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    try:
        t0 = time.time()
        data = tables_dir(sf)
        warm_data = tables_dir(0.001)
        warm, plan, fixture = plan_lines(w, args.seed, scratch)
        gen_s = time.time() - t0
        for name, lines in (("warm.tsv", warm), ("plan.tsv", plan)):
            with open(os.path.join(scratch, name), "w") as f:
                f.write("\n".join(lines) + "\n")
        cpus = min(4, os.cpu_count() or 1)
        # a fixed number of timed passes, sized from --seconds and the
        # workload's nominal pass time: a pass count that followed the clock
        # would change with the host's speed, and later passes run faster
        passes = max(1, round(args.seconds / w["pass_s"]))
        with open(CLASSPATH) as f:
            cp = f.read().strip()
        out = os.path.join(scratch, "record.json")
        spans_out = os.path.join(scratch, "spans.jsonl")
        cmd = ["java", "-cp", cp, "-Xmx3g", "-XX:+UseParallelGC",
               f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS + [
            "graft.perfbench.Main", "--plan", os.path.join(scratch, "plan.tsv"),
            "--warm_plan", os.path.join(scratch, "warm.tsv"),
            "--data", data, "--warm_data", warm_data, "--scratch", scratch,
            "--spans", spans_out, "--cpus", str(cpus), "--passes", str(passes),
            "--trace", str(args.trace)]
        if "mat_threshold" in w:
            cmd += ["--mat_threshold", str(w["mat_threshold"])]
        tag = args.workload + ("-smoke" if args.smoke else "")
        ticks0 = cpu_ticks()
        rec = jvm(cmd + ["--setup_only", "0", "--out", out], scratch, deadline)
        setups = [rec["setup"]]
        for i in range(1, SETUPS):
            probe = os.path.join(scratch, f"setup{i}.json")
            setups.append(jvm(cmd + ["--setup_only", "1", "--out", probe],
                              scratch, deadline)["setup"])
        rec["setups"] = setups
        spans = []
        if args.trace:
            with open(spans_out) as f:
                spans = [json.loads(x) for x in f if x.strip()]
        with open(args.expected) as f:
            expected = json.load(f)
        ops_all = rec["ops"]
        if args.record_expected:
            fp = {o["name"]: {"rows": o["rows"], "hash": o["hash"]}
                  for o in ops_all if o["kind"] == "key" and o.get("ok")}
            gen.write_json(args.record_expected, {f"sf{sf}": fp})
            expected = {f"sf{sf}": fp}
        bad = check_keys(ops_all, expected, sf)
        bad += [o["name"] for o in ops_all if o["kind"] != "key" and not o.get("ok")]
        bad = sorted(set(bad))
        # pass 0 warms up; the traced run times pass 1 only (pass 2 is its
        # untraced reference)
        pass_s = rec["pass_s"][:1] if args.trace else rec["pass_s"]
        timed = [o for o in ops_all if o["kind"] != "check"
                 and 1 <= o["pass"] <= len(pass_s)]
        ok_t = [o for o in timed if o.get("ok")]
        walls = [o["wall_s"] for o in ok_t]
        attempted = len(ops_all)
        failed = sum(1 for o in ops_all if not o.get("ok"))
        ticks1 = cpu_ticks()
        host.update(rec["host"], loadavg_end=loadavg(),
                    steal_share=(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]))
        if not walls:
            raise BenchError("no op completed: " + "; ".join(
                f"{o['name']}: {o.get('err')}" for o in ops_all[:5]))
        tail_v, tail_p, n = tail(walls)
        e2e = {
            "setup_s": (statistics.median(s["s"] for s in rec["setups"]), "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "ops_per_s": (len(walls) / sum(pass_s), "1/s"),
            "live_heap_mb": (rec["live_heap_mb"], "MB"),
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "sf": sf, "smoke": args.smoke,
            "fixture": fixture, "build_s": round(build_s, 3), "gen_s": round(gen_s, 3),
            "passes": len(rec["pass_s"]), "pass_s": rec["pass_s"],
            "timed_s": rec["timed_s"],
            "cpu_s_per_op": rec["timed_cpu_s"] / len(walls),
            "op_tail_s": tail_v, "tail_percentile": tail_p, "samples": n,
            "error_rate": failed / attempted, "failed_ops": bad,
            "setups": rec["setups"], "host": host,
        }
        by_kind = {}
        for o in ok_t:
            by_kind.setdefault(o["kind"], []).append(o["wall_s"])
        if "merge" in by_kind:
            mt = tail(by_kind["merge"])
            record.update(
                load_s=sum(by_kind.get("load", [])) / max(1, len(by_kind.get("load", []))),
                merge_p50_s=statistics.median(by_kind["merge"]),
                merge_tail_s=mt[0], merge_tail_percentile=mt[1], merge_samples=mt[2],
                optimize_s=statistics.median(by_kind.get("optimize", [0.0])),
                drain_s=statistics.median(by_kind.get("drain", [0.0])))
        if args.trace:
            metrics = layer_metrics(rec, spans, ok_t, rec["pass_s"][0] / rec["pass_s"][1])
            record["self_time_s"] = self_times(spans)
            units = {m["name"]: m["unit"] for m in load_contract()["per_layer"]}
            metrics = {k: (v, units.get(k, "")) for k, v in metrics.items()}
        else:
            metrics = e2e
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        record["metrics"] = result_metrics
        record["ops"] = [{k: o.get(k) for k in ("name", "kind", "pass", "wall_s", "ok", "err", "rows",
                                               "held_rdds", "pinned_rdds")
                          if k in o}
                         for o in ops_all]
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        stem = os.path.join(WORK, "records", f"{tag}-t{args.trace}-s{args.seed}-{int(time.time())}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f)
        if args.trace:
            shutil.copy(spans_out, stem + ".spans.jsonl")
        print(json.dumps(record))
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": result_metrics}))
        return 0 if not bad and failed == 0 else 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def jvm(cmd, scratch, deadline):
    """Runs one harness JVM to its end, or fails the run at the deadline,
    and returns the record it wrote."""
    out = cmd[cmd.index("--out") + 1]
    cmd = cmd + ["--launched_ms", str(int(time.time() * 1000))]
    with open(os.path.join(scratch, "jvm.log"), "a") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"the run did not finish within {RUN_DEADLINE_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(scratch, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def load_contract():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(str(e))
        sys.exit(2)
