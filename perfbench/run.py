#!/usr/bin/env python3
"""Lifecycle benchmark: build the engine from source, generate a seeded
corpus, drive one workload in one JVM, check every output, print metrics.

  python3 perfbench/run.py --workload serve --seed 3 --seconds 10 --trace 0

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones and writes the spans next to the
build (`perfbench/target/spans-<workload>-<seed>.json`). See NOTES.md.

  python3 perfbench/run.py --expect <corpus-id>...

recomputes the stored expected outputs (expected.json) from scratch.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
EXPECTED = os.path.join(HERE, "expected.json")
# A run may take 180 s at most: stop the engine well before that.
DEADLINE_S = 170

# The query set every workload answers: one query per operator module
# (two for CartAnalytics, the reference's own analytics), each reading a
# persisted artifact where its module serves one.
QUERIES = [
    "q02_co_abandoned_pairs", "q17_profile_orders_strings", "d07_contamination",
    "s03_ann_ivf", "t13_bigram_novelty", "e14_interarrival", "p07_curriculum_plan",
    "m04_content_dedup",
]
WORKLOADS = ("serve", "lifecycle")

MODULES = ["CartAnalytics", "Curation", "Dedup", "EventsAnalytics", "Multimodal",
           "Similarity", "TextAnalysis"]
# The artifact families the query set builds (a family the set does not
# build would only ever read 0).
FAMILIES = ["cents", "contam", "dbg", "h60", "profstr", "profstrh"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------------
# build

def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for d in SOURCES:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile engine + benchmark with sbt, offline; cache the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine and benchmark (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln.startswith(os.path.join(TARGET, "scala-"))]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


# ----------------------------------------------------------------------
# engine run

def driver_memory():
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def run_engine(cp, workload, seed, seconds, trace, corpus, work, deadline=None):
    out = os.path.join(work, "out.json")
    mem = driver_memory()
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xmx{mem}g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), corpus, work, out, ",".join(QUERIES)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    env.pop("SPARK_GRAFT_MASTER", None)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "engine.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, (deadline or T_START + DEADLINE_S) - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("engine run exceeded the deadline")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "engine.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"engine exited with code {rc}")
    res = json.load(open(out))
    res["driver_memory_gb"] = mem
    return res


# ----------------------------------------------------------------------
# metrics

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tree_bytes(d):
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(d) for f in fs)


TIMED = ("timed", "cold", "fresh")


def phase(res, name):
    """(wall, cpu) of phase `name`, averaged over the cycles that ran it."""
    ps = [p for p in res["phases"] if p["name"] == name]
    n = max(1, len(ps))
    return sum(p["wall_s"] for p in ps) / n, sum(p["cpu_s"] for p in ps) / n


CYCLE_PHASES = {"serve": ("pass:timed",),
                "lifecycle": ("ingest", "calendar", "clean", "export", "pass:cold")}


COSTS = ("wall_s", "cpu_s", "driver_cpu_s", "proc_cpu_s")


def cycle(res, workload):
    """What a timed cycle cost, per clock (`COSTS`). On serve, the best
    pass: each query's best value over the timed passes, summed over the
    query set. On lifecycle, the median cycle: raw files → catalog → clean
    → export → first answers."""
    if workload == "serve":
        return {k: sum(v.values()) for k, v in best(res).items()}
    per = {}
    for p in res["phases"]:
        if p["name"] in CYCLE_PHASES[workload]:
            c = per.setdefault(p["cycle"], dict.fromkeys(COSTS, 0.0))
            for k in COSTS:
                c[k] += p[k]
    return {k: statistics.median(c[k] for c in per.values()) for k in COSTS}


def best(res):
    """Per clock, each serve query's lowest reading over the timed passes.
    Other tenants of a shared host only ever add to a reading, so the
    lowest is the steadiest estimate of what the engine costs."""
    out = {k: {} for k in COSTS}
    for o in res["ops"]:
        if o["phase"] == "timed":
            for k in COSTS:
                out[k][o["query"]] = min(out[k].get(o["query"], o[k]), o[k])
    return out


def latencies(res, workload):
    """Per-query wall times: each query's best on serve, every first
    answer on lifecycle."""
    if workload == "serve":
        return list(best(res)["wall_s"].values())
    return [o["wall_s"] for o in res["ops"] if o["phase"] in TIMED]


def end_to_end(res, workload, corpus):
    c = cycle(res, workload)
    return {
        "setup_s": (res["setup_cpu_s"], "s"),
        "cycle_driver_cpu_s": (c["driver_cpu_s"], "s"),
        "cycle_proc_cpu_s": (c["proc_cpu_s"], "s"),
        "heap_retained_mb": (res["heap_retained_bytes"] / 2**20, "MB"),
        "storage_amp": (statistics.median(res.get("cycle_bytes") or [res["warehouse_bytes"]]) /
                        tree_bytes(os.path.join(corpus, "v1")), "ratio"),
    }


def batch_bytes(corpus):
    """Input bytes the append added: files in v2 that are not links to v1's."""
    return sum(os.path.getsize(os.path.join(b, f))
               for b, _, fs in os.walk(os.path.join(corpus, "v2")) for f in fs
               if os.stat(os.path.join(b, f)).st_nlink == 1)


class SpanTree:
    def __init__(self, spans, modules):
        self.spans = spans
        self.modules = modules
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def subtree(self, s):
        out = [s]
        for k in self.kids.get(s["id"], []):
            out += self.subtree(k)
        return out

    def total(self, s, key):
        return sum(x[key] for x in self.subtree(s))

    @staticmethod
    def wall(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_time(self, s):
        return self.wall(s) - sum(self.wall(k) for k in self.kids.get(s["id"], []))

    def layer(self, s):
        """Module a span belongs to: the query's operator module, the
        entry point's object for everything else."""
        name = s["name"]
        if name.startswith("query:"):
            return self.modules[name[len("query:"):]]
        if name in ("construct", "exec"):
            return self.layer(next(p for p in self.spans if p["id"] == s["parent"]))
        return name.split(".")[0]

    def self_times(self):
        out = {}
        for s in self.spans:
            out[self.layer(s)] = out.get(self.layer(s), 0.0) + self.self_time(s)
        return out


def per_layer(res, workload, corpus):
    t = SpanTree(res["spans"], res["modules"])
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("Session.start_s", res["session_start_s"], "s")
    put("Session.warmup_s", res.get("warmup_s", 0.0), "s")

    # pipeline sources: lifecycle only, zero on serve
    ingest = [phase(res, "ingest"), phase(res, "calendar")]
    put("Ingest.wall_s", sum(w for w, _ in ingest), "s")
    put("Ingest.cpu_s", sum(c for _, c in ingest), "s")
    put("Ingest.bytes_written", res.get("ingest_bytes", 0), "bytes")
    put("Clean.wall_s", phase(res, "clean")[0], "s")
    put("Clean.cpu_s", phase(res, "clean")[1], "s")
    put("Clean.rows_dropped", res.get("clean_rows_dropped", 0), "count")
    put("Clean.bytes_written", res.get("clean_bytes", 0), "bytes")
    put("Export.wall_s", phase(res, "export")[0], "s")
    put("Export.cpu_s", phase(res, "export")[1], "s")
    put("Export.bytes", os.path.getsize(res["reports"][-1]) if res.get("reports") else 0, "bytes")

    timed_ops = [o for o in res["ops"] if o["phase"] in TIMED]
    put("Artifacts.builds", sum(o["builds"] for o in timed_ops), "count")
    put("Artifacts.build_free_ratio",
        sum(1 for o in timed_ops if o["builds"] == 0) / max(1, len(timed_ops)), "ratio")
    put("Artifacts.bytes", res["artifact_bytes"], "bytes")
    put("Artifacts.files", res["artifact_files"], "count")
    put("Artifacts.sweep_s", res.get("sweep_s", 0.0), "s")
    put("Artifacts.swept", res.get("swept", 0), "count")
    linked, written = res.get("refresh_linked_bytes", 0), res.get("refresh_written_bytes", 0)
    put("Artifacts.refresh_linked_ratio", linked / (linked + written) if linked + written else 0.0,
        "ratio")
    put("Artifacts.refresh_bytes_written", written, "bytes")
    refresh_wall, refresh_cpu = phase(res, "refresh")
    put("Artifacts.refresh_wall_s", refresh_wall, "s")
    put("Artifacts.refresh_cpu_s", refresh_cpu, "s")
    put("Artifacts.fresh_wall_s", refresh_wall + phase(res, "pass:fresh")[0], "s")
    batch = batch_bytes(corpus) if os.path.isdir(os.path.join(corpus, "v2")) else 0
    put("Artifacts.refresh_write_amp", written / batch if batch and refresh_wall else 0.0, "ratio")

    # A family's build is the query span in which its directory first
    # appeared (families that appear in one span share that span's cost),
    # averaged over the run's builds of it outside the JIT warm-up.
    builds = {f: [] for f in FAMILIES}
    for s in res["spans"]:
        if s["name"].startswith("query:") and s["phase"] != "warmup":
            new = [a for x in t.subtree(s) for a in x["artifacts"]]
            for f in {a.split("_")[0] for a in new} & set(FAMILIES):
                builds[f].append((t.total(s, "cpu_ns") / 1e9, sum(
                    res["artifact_sizes"].get(a, 0) for a in new if a.split("_")[0] == f)))
    for f, bs in builds.items():
        put(f"Artifacts.build.{f}.cpu_s", statistics.mean(c for c, _ in bs) if bs else 0.0, "s")
        put(f"Artifacts.build.{f}.bytes", statistics.mean(b for _, b in bs) if bs else 0, "bytes")

    # operator modules, per timed pass
    n_passes = max(1, len({(o["phase"], o["cycle"]) for o in timed_ops}))
    units = {"construct_s": "s", "plan_s": "s", "exec_s": "s", "cpu_s": "s",
             "shuffle_bytes": "bytes", "input_bytes": "bytes", "spill_bytes": "bytes",
             "tasks": "count"}
    acc = {mod: dict.fromkeys(units, 0.0) for mod in MODULES}
    for s in res["spans"]:
        if not (s["name"].startswith("query:") and s["phase"] in TIMED):
            continue
        a = acc[t.layer(s)]
        for k in t.kids.get(s["id"], []):
            if k["name"] in ("construct", "exec"):
                a[k["name"] + "_s"] += t.wall(k)
        a["plan_s"] += t.total(s, "plan_ns") / 1e9
        a["cpu_s"] += t.total(s, "cpu_ns") / 1e9
        for key in ("shuffle_bytes", "input_bytes", "spill_bytes", "tasks"):
            a[key] += t.total(s, key)
    for mod in sorted(acc):
        for k, v in acc[mod].items():
            put(f"{mod}.{k}", v / n_passes, units[k])

    # the closed-loop client's view: wall times, which swing with the
    # host's other tenants and so have no bound (see NOTES.md)
    walls = latencies(res, workload)
    put("Client.cycle_wall_s", cycle(res, workload)["wall_s"], "s")
    put("Client.query_p50_s", quantile(walls, 0.5), "s")
    put("Client.query_p90_s", quantile(walls, 0.9), "s")
    put("Client.setup_wall_s", res["setup_wall_s"], "s")
    put("Trace.overhead_s", res["trace_overhead_s"], "s")
    return m, t.self_times()


# ----------------------------------------------------------------------
# checks

def check(res, workload, expected):
    """(attempted, failures): every timed query's (rows, digest) against
    the stored from-scratch values, zero builds in timed serve queries,
    and on lifecycle the report and the artifact attribution."""
    attempted, failures = 0, []

    def expect(label, ok, detail):
        nonlocal attempted
        attempted += 1
        if not ok:
            failures.append(f"{label}: {detail}")

    for o in res["ops"]:
        if o["phase"] not in TIMED:
            continue
        want = expected["v2" if o["phase"] == "fresh" else "v1"][o["query"]]
        got = [o["rows"], o["digest"]]
        expect(f"{o['phase']}#{o['cycle']} {o['query']}",
               not o["error"] and got == want and not (o["phase"] == "timed" and o["builds"]),
               o["error"] or f"(rows, digest) {got}, expected {want}, builds {o['builds']}")
    for i, report in enumerate(res.get("reports", []), 1):
        reference = res.get("report_reference")
        expect(f"cycle#{i} report",
               sha256(report) == expected["report_sha256"]
               and (reference is None or sha256(reference) == expected["report_sha256"]),
               "differs from Pipeline.run's report or from the stored digest")
    if "unattributed" in res:
        expect("artifact attribution", not res["unattributed"],
               f"directories outside every span: {res['unattributed']}")
    return attempted, failures


def sha256(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# ----------------------------------------------------------------------

def generate(corpus, corpus_id):
    sys.dont_write_bytecode = True  # leave no caches beside the sources
    sys.path.insert(0, HERE)
    import gen
    gen.base(corpus_id, os.path.join(corpus, "v1"))
    gen.append(corpus_id, os.path.join(corpus, "v1"), os.path.join(corpus, "v2"), 1)


def host_record(res):
    try:
        load = open("/proc/loadavg").read().split()[:3]
    except OSError:
        load = []
    timed = [o for o in res["ops"] if o["phase"] in TIMED]
    steal, busy = sum(o.get("steal", 0) for o in timed), sum(o.get("busy", 0) for o in timed)
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {"nproc": os.cpu_count(), "driver_memory_gb": res.get("driver_memory_gb"),
            "master": res.get("master"), "jdk": jdk[0] if jdk else "", "loadavg": load,
            "peak_rss_mb": round(res["peak_rss_kb"] / 1024.0, 1),
            "steal_share_timed": round(steal / busy, 4) if busy else None}


def oracle(cp, corpus, work):
    """Confirm the engine's answers on `corpus` against DuckDB: graft.Verify
    dumps the query set, tools/check_oracle.py compares. Returns its summary."""
    out = os.path.join(work, "verify")
    prefixes = ",".join(sorted({q.split("_")[0] + "_" for q in QUERIES}))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    subprocess.run(["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
                   [f"-Xmx{driver_memory()}g", "-cp", cp, "graft.Verify", corpus, out, prefixes],
                   cwd=work, env=env, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    # the oracle reads one file per table: give it a flat copy of the corpus
    flat = os.path.join(work, "flat")
    shutil.rmtree(flat, ignore_errors=True)
    os.makedirs(flat)
    import pyarrow.parquet as pq
    for t in os.listdir(corpus):
        pq.write_table(pq.read_table(os.path.join(corpus, t)), os.path.join(flat, t))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), flat, out,
                        "--only=" + prefixes], capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if any(q in ln for q in QUERIES)]
    bad = [ln for ln in lines if "PASS" not in ln]
    if bad or len(lines) < len(QUERIES):
        sys.stderr.write(p.stdout + p.stderr)
        fail(f"oracle check failed on {corpus}")
    return f"{len(lines)}/{len(QUERIES)} PASS"


def record_expected(cp, ids, with_oracle):
    """Recompute expected.json: every query from scratch on both corpus
    states of each corpus id, optionally confirmed against the oracle."""
    doc = {"queries": QUERIES, "corpora": {}}
    if os.path.exists(EXPECTED) and json.load(open(EXPECTED))["queries"] == QUERIES:
        doc = json.load(open(EXPECTED))
    for cid in ids:
        work = os.path.join(TARGET, "work", f"expect-{cid}")
        shutil.rmtree(work, ignore_errors=True)
        corpus = os.path.join(work, "corpus")
        generate(corpus, cid)
        res = run_engine(cp, "expect", 0, 0, 0, corpus, work, deadline=time.time() + 900)
        entry = {state: {o["query"]: [o["rows"], o["digest"]]
                         for o in res["ops"] if o["phase"] == phase}
                 for state, phase in (("v1", "cold"), ("v2", "fresh"))}
        errors = [o for o in res["ops"] if o["error"]]
        if errors:
            fail(f"corpus {cid}: {errors}")
        entry["report_sha256"] = sha256(res["report_reference"])
        if with_oracle:
            entry["oracle"] = {s: oracle(cp, os.path.join(corpus, s), work) for s in ("v1", "v2")}
        doc["corpora"][str(cid)] = entry
        shutil.rmtree(work, ignore_errors=True)
        with open(EXPECTED, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        log(f"corpus {cid} recorded")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", type=int, nargs="+", metavar="CORPUS_ID")
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    for f in ("src/main/scala/graft/SparkEntry.scala", "tools/gen_sf_local.py"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"engine source {f} not found: run from the root of a checkout")
    if args.expect:
        record_expected(build(), args.expect, args.oracle)
        return
    if not args.workload:
        fail("--workload is required")
    expected = json.load(open(EXPECTED))
    if expected["queries"] != QUERIES:
        fail("expected.json was recorded for another query set: rerun --expect")
    cp = build()

    t_setup, cpu_setup = time.time(), time.process_time()
    corpus_id = str(args.seed % len(expected["corpora"]))
    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    corpus = os.path.join(work, "corpus")
    try:
        generate(corpus, int(corpus_id))
        cpu_setup = time.process_time() - cpu_setup
        res = run_engine(cp, args.workload, args.seed, args.seconds, args.trace, corpus, work)
        # set-up: corpus generation, JVM, session and (serve) the passes
        # that bring the warehouse into serve state. Its wall time is a
        # per-layer metric; the bounded one is the CPU it took.
        res["setup_wall_s"] = res["first_timed_ms"] / 1000.0 - t_setup
        res["setup_cpu_s"] = cpu_setup + res["setup_proc_cpu_s"]
        with open(os.path.join(TARGET, f"raw-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(res, fh)
        for p in res["phases"]:
            log(f"phase {p['name']}: {p['wall_s']:.2f} s wall, {p['cpu_s']:.2f} s cpu")
        for o in res["ops"]:
            log(f"{o['phase']}#{o['cycle']} {o['query']}: {o['wall_s']:.2f} s, {o['builds']} builds")
        attempted, failures = check(res, args.workload, expected["corpora"][corpus_id])
        for f in failures:
            log("FAILED", f)
        host = host_record(res)
        log("host", json.dumps(host))
        if args.trace:
            metrics, self_times = per_layer(res, args.workload, corpus)
            with open(os.path.join(TARGET, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"host": host, "self_time_s": self_times, "spans": res["spans"]}, fh)
        else:
            metrics = end_to_end(res, args.workload, corpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
