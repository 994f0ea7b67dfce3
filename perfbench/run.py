#!/usr/bin/env python3
"""Pipeline benchmark: daily_increment and index_refresh.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_increment --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark driver from source on first use
(sbt, cached by a hash of the sources), generates the workload's inputs
from the seed (cached per seed), then runs repetitions in a closed loop
from this one process, each in a fresh JVM, until `--seconds` have been
spent measuring. Every operation runs under a deadline; a missed
deadline kills the JVM and fails the operations still open. The
outputs of every repetition are checked against the generator's truth
file. Set-up alone (restore, JVM start, session) is timed again in
extra JVMs until there are three samples. The last stdout line is one
JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones (medians over the repetitions), with
--trace 1 the per-layer ones from one extra traced repetition.
"""
import argparse
import hashlib
import json
import math
import os
import selectors
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

SIZES = {
    "daily_increment": {"deals": 1, "asset_rows": 200, "bad_rows": 6,
                        "dup_rows": 3, "null_topic_rows": 4,
                        "bond_rows": 0, "bond_bad_rows": 0,
                        "redelivered": 1, "day1_seed": 20230630},
    "index_refresh": {"corpus": 5000, "append": 1000, "queries": 100,
                      "dim": 64, "clusters": 32, "spread": 0.08},
    "kit": {"asset_rows": 120, "bad_rows": 4, "dup_rows": 2,
            "null_topic_rows": 2, "bond_rows": 10, "bond_bad_rows": 1,
            "corpus": 2000, "append": 400, "queries": 50, "dim": 64,
            "clusters": 8, "spread": 0.08},
    # the traced run's per-row layer probes read this one tape: as many
    # rows as a production night's four 4,000-row tapes
    "probe": {"asset_rows": 16000, "bad_rows": 64, "dup_rows": 32,
              "null_topic_rows": 32},
}
WORKLOADS = ("daily_increment", "index_refresh")
OP_DEADLINE_S = 120      # one operation
READY_DEADLINE_S = 60    # JVM start to session ready
TRACE_DEADLINE_S = 150   # kit + layer probes after the traced workload
RUN_BUDGET_S = 160       # no repetition starts that could end past this
SETUP_SAMPLES = 3        # set-up is timed at least this often per run
JAVA_OPTIONS_MARK = "perfbench-java-options "


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build
def source_hash():
    h = hashlib.sha256()
    paths = []
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            paths.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".sbt", ".java", ".properties"))]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the driver; returns ((classpath, the
    program build's JVM options), hash)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program to build next to the benchmark (build.sbt and "
             "src/main are missing)", 3)
    key = source_hash()
    cp_file = os.path.join(WORK, "build", key + ".json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            b = json.load(f)
        return (b["classpath"], b["java_options"]), key
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    log("building program and driver (sbt) ...")
    t = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath", "programJavaOptions"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=850, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    jopts = [json.loads(l[len(JAVA_OPTIONS_MARK):]) for l in lines
             if l.startswith(JAVA_OPTIONS_MARK)]
    if proc.returncode != 0 or not cps or not jopts:
        log("\n".join(lines[-40:]))
        fail("build failed", 4)
    log("built in %.0f s" % (time.time() - t))
    jvm = (cps[-1], jopts[-1])
    # the day-1 lake is part of the build: it depends only on the program
    snapshot_lake(jvm, key)
    with open(cp_file, "w") as f:
        json.dump({"classpath": jvm[0], "java_options": jvm[1]}, f)
    return jvm, key


# ---------------------------------------------------------------- inputs
def inputs_key(workload):
    """Cache key of generated inputs: the generator and the sizes."""
    h = hashlib.sha256(json.dumps([SIZES[workload], SIZES["kit"],
                                   SIZES["probe"]], sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:8]


def inputs_for(workload, seed):
    import gen
    out = os.path.join(WORK, "inputs", workload, inputs_key(workload), str(seed))
    if os.path.isfile(os.path.join(out, "truth.json")):
        with open(os.path.join(out, "truth.json")) as f:
            return out, json.load(f)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = gen.generate(workload, seed, tmp, SIZES)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest


# ------------------------------------------------------------------- JVM
class Rep:
    """The outcome of one repetition (one fresh JVM)."""

    def __init__(self):
        self.ops = {}        # name -> dict(start, end, ok, err)
        self.results = {}
        self.ready_s = None
        self.rss_mb = None
        self.cpu_s = None
        self.trace = None
        self.killed = None


def jvm_cmd(classpath, java_options, workload, inputs, work, trace):
    cpus = os.cpu_count() or 4
    # the program build's options first; then a fixed heap, so peak RSS
    # tracks what the run touches rather than when the collector chose
    # to grow the heap (the last -Xmx wins)
    props = ["-Xms1536m", "-Xmx1536m",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
             "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
             "-Dderby.system.home=" + os.path.join(work, "derby")]
    return (["java"] + java_options + props +
            ["-cp", classpath, "perfbench.Driver", "--workload", workload,
             "--inputs", inputs, "--work", work, "--cpus", str(cpus),
             "--trace", "1" if trace else "0"])


def run_jvm(cmd, work, expected, trace, t_setup, until_ready=False):
    """Launch one JVM and follow its events under the deadlines; with
    `until_ready` it is killed as soon as its session is ready."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rep = Rep()
    errlog = open(os.path.join(work, "jvm.log"), "wb")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=errlog, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    sel = selectors.DefaultSelector()
    sel.register(proc.stdout, selectors.EVENT_READ)
    buf = b""
    open_ops = {}
    phase_deadline = time.monotonic() + READY_DEADLINE_S
    done = ready = False
    try:
        while not (done or ready):
            now = time.monotonic()
            deadlines = [phase_deadline] + [t + OP_DEADLINE_S
                                            for t in open_ops.values()]
            if open_ops:
                deadlines[0] = float("inf")
            wait = min(deadlines) - now
            if wait <= 0:
                late = [n for n, t in open_ops.items()
                        if now >= t + OP_DEADLINE_S]
                rep.killed = "deadline: " + (", ".join(late) or "phase")
                break
            if not sel.select(timeout=wait):
                continue
            chunk = os.read(proc.stdout.fileno(), 1 << 16)
            if not chunk:
                rep.killed = rep.killed or "exited early"
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                if not line.startswith(b"@@pb "):
                    continue
                ev = json.loads(line[5:].decode("utf-8"))
                kind = ev["ev"]
                # between operations the JVM must not stall either
                phase_deadline = time.monotonic() + OP_DEADLINE_S
                if kind == "ready":
                    rep.ready_s = time.monotonic() - t_setup
                    if until_ready:
                        ready = True
                        break
                elif kind == "start":
                    open_ops[ev["op"]] = time.monotonic()
                    rep.ops[ev["op"]] = {"start": ev["t"], "ok": None}
                elif kind == "end":
                    open_ops.pop(ev["op"], None)
                    rep.ops[ev["op"]].update(end=ev["t"], ok=ev["ok"],
                                             err=ev.get("err"))
                    if ev.get("err"):
                        log("op %s failed: %s" % (ev["op"], ev["err"]))
                    if trace and all(n in rep.ops and rep.ops[n]["ok"]
                                     is not None for n in expected):
                        phase_deadline = time.monotonic() + TRACE_DEADLINE_S
                elif kind == "result":
                    rep.results[ev["name"]] = ev["rows"]
                elif kind == "trace":
                    rep.trace = ev["metrics"]
                elif kind == "done":
                    rep.rss_mb = ev["rss_mb"]
                    rep.cpu_s = ev["cpu_s"]
                    done = True
    finally:
        sel.close()
        try:
            # a finished JVM gets a moment to run its shutdown hooks
            proc.wait(timeout=10 if done else 0)
        except subprocess.TimeoutExpired:
            pass
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        proc.stdout.close()
        errlog.close()
    if rep.killed:
        log("repetition killed (%s); see %s" % (rep.killed,
                                                os.path.join(work, "jvm.log")))
    return rep


def expected_ops(workload, manifest):
    if workload == "daily_increment":
        ops = []
        for ed in manifest["deals"]:
            ops += ["bronze_asset:" + ed, "bronze_bond_info:" + ed,
                    "bronze_deal_details:" + ed]
        return ops + ["silver_asset", "silver_bond_info",
                      "silver_deal_details", "gold_refresh_rollup",
                      "gold_principal_from_rollup"]
    return ["index_build", "index_append", "index_probe_1", "index_compact",
            "index_probe_2"]


# ---------------------------------------------------------------- checks
def dataset_rows(path):
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def tree_stats(root):
    """(all bytes, data files) under a lake or index root."""
    nbytes = files = 0
    for d, dirs, fs in os.walk(root):
        for f in fs:
            nbytes += os.path.getsize(os.path.join(d, f))
            rel = os.path.relpath(os.path.join(d, f), root)
            if not any(p.startswith((".", "_")) for p in rel.split(os.sep)):
                files += 1
    return nbytes, files


def money_rows(rows):
    return [[r[0], str(Decimal(str(r[1])).quantize(Decimal("0.01")))]
            + [int(x) for x in r[2:]] for r in rows]


def top_countries(rows):
    return [(r[0], r[1]) for r in sorted(
        rows, key=lambda r: (-Decimal(r[1]), r[0] or ""))[:10]]


def check_pipeline(work, rep, truth):
    """Returns (failed op names, recall of the top-10 countries)."""
    t = truth["pipeline"]
    lake = os.path.join(work, "lake")
    bad = set()
    silver_op = {"assets": "silver_asset", "bond_info": "silver_bond_info",
                 "deal_details": "silver_deal_details"}
    gold_op = "gold_principal_from_rollup"
    for topic, want in t["silver_rows"].items():
        dt, name = ("bond_info", topic[5:]) if topic.startswith("bond.") \
            else ("assets", topic)
        got = dataset_rows(os.path.join(lake, "silver", dt, name))
        if got != want:
            log("check: silver %s/%s rows %d, want %d" % (dt, name, got, want))
            bad.add(silver_op[dt])
    for dt, want in t["dirty_rows"].items():
        got = dataset_rows(os.path.join(lake, "dirty_dumps", dt))
        if got != want:
            log("check: dirty_dumps/%s rows %d, want %d" % (dt, got, want))
            bad.add(silver_op[dt])
    got = dataset_rows(os.path.join(lake, "silver", "deal_details",
                                    "deal_info_table"))
    if got != t["deal_info_rows"]:
        log("check: deal_info_table rows %d, want %d" % (got, t["deal_info_rows"]))
        bad.add(silver_op["deal_details"])
    want_p = [[c, v, n] for c, v, n in t["principal_by_country"]]
    got_p = money_rows(rep.results.get("principal_by_country", []))
    if got_p != want_p:
        log("check: principal_by_country %s, want %s" % (got_p, want_p))
        bad.add(gold_op)
    want_top = set(top_countries(want_p))
    recall = len(want_top & set(top_countries(got_p))) / max(1, len(want_top))
    return bad, recall


def check_index(work, truth):
    import pyarrow.parquet as pq
    top = truth["vectors"]["top10"]
    bad, recalls = set(), []
    for n in (1, 2):
        path = os.path.join(work, "index-probe%d" % n)
        if not os.path.isdir(path):
            bad.add("index_probe_%d" % n)
            recalls.append(0.0)
            continue
        t = pq.read_table(path, columns=["query_id", "corpus_id"]).to_pydict()
        got = {}
        for q, c in zip(t["query_id"], t["corpus_id"]):
            got.setdefault(q, set()).add(c)
        hit = sum(len(got.get(q, set()) & set(want)) for q, want in enumerate(top))
        recalls.append(hit / (10.0 * len(top)))
        if recalls[-1] < 0.5:
            log("check: index_probe_%d recall@10 %.3f" % (n, recalls[-1]))
            bad.add("index_probe_%d" % n)
    return bad, statistics.mean(recalls)


# ------------------------------------------------------------ repetition
def check_probes(layer, truth):
    """The traced run's quality probe against the probe tape's injected
    defects; returns whether both counts match."""
    ok = True
    for metric, want in (("quality.rows_bad", truth["probe"]["bad_rows"]),
                         ("quality.rules_failed", truth["probe"]["bad_cells"])):
        if layer.get(metric) != want:
            log("check: %s %s, want %d" % (metric, layer.get(metric), want))
            ok = False
    return ok


def snapshot_lake(jvm, key):
    """The day-1 lake daily_increment starts from. Day 1 does not depend
    on the seed, so the program builds it once per build of itself;
    every repetition then restores a copy."""
    snap = os.path.join(WORK, "snapshot",
                        key + "-" + inputs_key("daily_increment"))
    if os.path.isdir(os.path.join(snap, "lake")):
        return os.path.join(snap, "lake")
    inputs, _ = inputs_for("daily_increment", 0)
    tmp = snap + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log("building the day-1 lake snapshot ...")
    rep = run_jvm(jvm_cmd(*jvm, "daily_snapshot", inputs, tmp, False),
                  tmp, [], False, time.monotonic())
    if rep.killed or not all(o["ok"] for o in rep.ops.values()):
        fail("could not build the day-1 lake snapshot", 5)
    shutil.rmtree(snap, ignore_errors=True)
    os.rename(tmp, snap)
    return os.path.join(snap, "lake")


def fresh_work(workload, idx, snapshot):
    """An empty work directory with the lake restored into it; returns
    it and the monotonic time its set-up began."""
    work = os.path.join(WORK, "run", "%s-%s" % (workload, idx))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.monotonic()
    if snapshot:
        shutil.copytree(snapshot, os.path.join(work, "lake"))
    return work, t_setup


def setup_sample(jvm, workload, inputs, snapshot):
    """Set-up alone, as a repetition pays it: restore, start the JVM,
    build the session; then the JVM is killed. None if it never got
    ready."""
    work, t_setup = fresh_work(workload, "setup", snapshot)
    return run_jvm(jvm_cmd(*jvm, workload, inputs, work, False),
                   work, [], False, t_setup, until_ready=True).ready_s


def one_rep(jvm, workload, inputs, manifest, snapshot, trace, idx):
    """One repetition; `jvm` is (classpath, JVM options)."""
    work, t_setup = fresh_work(workload, idx, snapshot)
    expected = expected_ops(workload, manifest)
    rep = run_jvm(jvm_cmd(*jvm, workload, inputs, work, trace),
                  work, expected, trace, t_setup)
    failed = {n for n in expected
              if n not in rep.ops or not rep.ops[n].get("ok")}
    if workload == "index_refresh":
        bad, recall = check_index(work, manifest)
        root = os.path.join(work, "index")
    else:
        bad, recall = check_pipeline(work, rep, manifest)
        root = os.path.join(work, "lake")
    failed |= bad
    nbytes, nfiles = tree_stats(root)
    ended = [o for o in rep.ops.values() if "end" in o]
    wall = (max(o["end"] for o in ended) - min(o["start"] for o in ended)
            if ended else float("nan"))
    log("ops: " + ", ".join("%s %.1fs" % (n, o["end"] - o["start"])
                            for n, o in rep.ops.items() if "end" in o))
    metrics = {
        "wall_s": wall,
        "recall_at_10": recall,
        "stored_bytes_per_input_byte": nbytes / manifest["input_bytes"],
        "stored_files": nfiles,
        "cpu_s": rep.cpu_s if rep.cpu_s else float("nan"),
        "peak_rss_mb": rep.rss_mb if rep.rss_mb else float("nan"),
        "ok_ops": 1.0 - len(failed) / len(expected),
        "setup_s": rep.ready_s if rep.ready_s else float("nan"),
    }
    return {"metrics": metrics, "attempted": len(expected),
            "failed": len(failed), "checks_ok": not bad and not rep.killed,
            "trace": rep.trace}


def listed_metrics():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    t_begin = time.monotonic()
    e2e_units, layer_units = listed_metrics()
    jvm, key = build()
    inputs, manifest = inputs_for(a.workload, a.seed)
    snapshot = None
    if a.workload == "daily_increment":
        snapshot = snapshot_lake(jvm, key)
    if a.trace:
        rep = one_rep(jvm, a.workload, inputs, manifest, snapshot, True, 0)
        layer = dict(rep["trace"] or {})
        missing = sorted(set(layer_units) - set(layer))
        if missing:
            log("traced run did not produce: " + ", ".join(missing))
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in layer_units.items() if k in layer}
        print(json.dumps({"correct": rep["checks_ok"] and not missing
                          and check_probes(layer, manifest),
                          "attempted": rep["attempted"],
                          "failed": rep["failed"], "metrics": metrics}))
        return
    reps = []
    t_measure = time.monotonic()
    while True:
        reps.append(one_rep(jvm, a.workload, inputs, manifest, snapshot,
                            False, len(reps)))
        spent = time.monotonic() - t_measure
        if (spent >= a.seconds or
                time.monotonic() - t_begin + spent / len(reps) > RUN_BUDGET_S):
            break
    med = {k: statistics.median(r["metrics"][k] for r in reps)
           for k in e2e_units}
    # one repetition sets up once; set-up alone is repeated so setup_s
    # is a median too
    setups = [r["metrics"]["setup_s"] for r in reps]
    while len(setups) < SETUP_SAMPLES:
        setups.append(setup_sample(jvm, a.workload, inputs, snapshot))
    setups = [x for x in setups if x is not None and not math.isnan(x)]
    med["setup_s"] = statistics.median(setups) if setups else float("nan")
    log("%s seed %d: %d repetitions, %d set-ups, %s" % (
        a.workload, a.seed, len(reps), len(setups),
        ", ".join("%s=%.4g" % (k, med[k]) for k in e2e_units)))
    print(json.dumps({
        "correct": all(r["checks_ok"] for r in reps),
        "attempted": sum(r["attempted"] for r in reps),
        "failed": sum(r["failed"] for r in reps),
        "metrics": {k: {"value": med[k], "unit": u}
                    for k, u in e2e_units.items()}}))


if __name__ == "__main__":
    main()
