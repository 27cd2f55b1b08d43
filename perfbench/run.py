#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles the engine
and the benchmark mains with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed (perfbench/datagen.py for the query workloads, the op list below for
serve_mixed). With --trace 0 the last stdout line holds the end-to-end
metrics; with --trace 1 it holds the per-layer metrics of a separate
traced pass, and the full per-query and per-family record is written
under .perfbench/reports/. Workloads, metrics and reference figures are
described in perfbench/README.md.
"""
import argparse
import hashlib
import http.client
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(HERE, "target")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ("ts_queries", "serve_mixed")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_ticks():
    """(busy, steal) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build
def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # sbt resolves from the local caches only; repository overrides come
    # from the environment's SBT_OPTS, as for the repository build
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    cp = [l for l in p.stdout.splitlines() if "scala-2.13" in l and l.count(":") > 2]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def java_cmd(cp, work, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] +
            [str(a) for a in args])


def java_env(work):
    env = dict(os.environ)
    env.update(GRAFT_STREAM_CK_ROOT=f"{work}/ck", SPARK_LOCAL_DIRS=f"{work}/spark-local",
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    return env


def dataset(seed):
    """The seed's generated tables; cached across runs."""
    d = os.path.join(STATE, "data", str(seed))
    if not os.path.isdir(d):
        sys.path.insert(0, HERE)
        import datagen
        tmp = f"{d}.tmp{os.getpid()}"
        datagen.generate(tmp, seed)
        os.rename(tmp, d)
    return d


# ---------------------------------------------------- query workloads
def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def oracle_check(data, check_dir):
    """Compare each dumped result with its DuckDB oracle: same columns
    (sorted by name), same numeric kinds, same rows in emitted order."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            srel = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            scols = sorted(srel.columns)
            orel = con.sql(sql)
            ocols = sorted(orel.columns)
            if scols != ocols:
                bad.append(f"{name}: columns {scols} vs oracle {ocols}")
                continue
            sq = f"SELECT {', '.join(scols)} FROM srel"
            oq = f"SELECT {', '.join(ocols)} FROM ({sql})"
            sdt, odt = con.sql(sq).df().dtypes, con.sql(oq).df().dtypes
            kinds = [c for c in scols if sdt[c].kind != odt[c].kind]
            if kinds:
                bad.append(f"{name}: numeric kind differs in {kinds}")
                continue
            srows, orows = con.sql(sq).fetchall(), con.execute(oq).fetchall()
            if len(srows) != len(orows):
                bad.append(f"{name}: {len(srows)} rows vs oracle {len(orows)}")
                continue
            diff = [i for i, (a, b) in enumerate(zip(srows, orows))
                    if tuple(map(_norm, a)) != tuple(map(_norm, b))]
            if diff:
                i = diff[0]
                bad.append(f"{name}: {len(diff)} rows differ, first {srows[i]} vs {orows[i]}")
        except Exception as e:  # an unreadable result or oracle is a failed check
            bad.append(f"{name}: {e}")
    return len(oracles), bad


def run_queries(a, cp, work):
    data = dataset(a.seed)
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(java_cmd(cp, work, [a.workload, data, work, a.seed, a.seconds,
                                                 a.trace]),
                             cwd=work, env=java_env(work), stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM ended with {code}", 1)
    with open(os.path.join(work, "result.json")) as f:
        r = json.load(f)
    n_oracles, bad = oracle_check(data, os.path.join(work, "check"))
    for b in bad:
        print(f"CHECK FAIL {b}")
    for q in r["check_failed"]:
        print(f"CHECK FAIL {q}: failed in the check pass")
    print(f"checked {n_oracles} queries against DuckDB oracles: {len(bad)} differ")
    for kind, c in sorted(r["per_kind"].items()):
        print(f"ops {kind}: attempted {c['attempted']} failed {c['failed']}")
    print("check pass: " + ", ".join(f"{k} {v / 1000:.2f} s" for k, v in r["check_ms"].items()))
    print("set-up: " + ", ".join(f"{k} {v / 1000.0 - launch:.2f} s"
                                 for k, v in r["marks"].items()))
    print(f"passes: warm-up {len(r['warm_walls'])} "
          f"({', '.join(f'{w:.2f}' for w in r['warm_walls'])} s), timed "
          f"{len(r['pass_walls'])} in {r['measured_s']:.1f} s, "
          f"CPU s per pass {', '.join(f'{c:.2f}' for c in r['pass_cpu'])}")
    print(f"walls: pass_s {r['pass_s']:.3f} s, "
          f"ops_per_s {len(r['medians']) / statistics.median(r['pass_walls']):.3f}")
    correct = not bad and not r["check_failed"] and n_oracles == len(r["medians"])
    if a.trace:
        t = r["trace"]["total"]
        metrics = layer_metrics(t, r["cores"])
        metrics.update(r["hygiene"])
        metrics["trace.overhead_pct"] = 100.0 * (t["query_ms"] / 1000.0 / r["pass_s"] - 1)
        # walls of the untraced timed passes (see README: unbounded)
        metrics["wall.pass_s"] = r["pass_s"]
        metrics["wall.ops_per_s"] = len(r["medians"]) / statistics.median(r["pass_walls"])
        report(a, {"pass_s": r["pass_s"], "medians": r["medians"], **r["trace"]})
    else:
        metrics = {"setup_s": r["first_op_ms"] / 1000.0 - launch,
                   "rss_peak_mb": r["rss_peak_mb"], "heap_live_mb": r["heap_live_mb"],
                   "pass_cpu_s": statistics.median(r["pass_cpu"])}
    return correct, r["attempted"], r["failed"], metrics


# --------------------------------------------------------- serve_mixed
TABLE = "pbtag"
TAGS = [f"sensor{i}.value" for i in range(8)]
PRELOAD_PER_TAG = 1250     # rows per tag written before every pass: 10k held
PRELOAD_BATCH = 1000       # lines per preload write
OPS_PER_PASS = 40          # the fixed op list, replayed every pass
WRITE_BATCH = 100          # lines per write op
TQL_LIMIT = 20             # rows per TQL read
CLIENTS = 4
# on the reference host the pass CPU time was still falling after 3
# passes when the host was busy, and level after 5; a fixed count keeps
# set-up the same work in every run
WARMUP_PASSES = 5
T0_NS = 1704067200 * 10**9  # 2024-01-01T00:00:00Z
AGG_SQL = (f"SELECT name, count(*) AS n, min(value) AS lo, max(value) AS hi, "
           f"sum(value) AS total FROM {TABLE} GROUP BY name ORDER BY name")


def line(tag, t_ns, v):
    return f"{tag.split('.')[0]} value={v} {t_ns}"


def op_list(seed):
    """The pass's preload payloads and its fixed op list: half writes, a
    quarter SQL reads (half per-tag aggregates, half one tag's minute
    buckets), a quarter TQL last-N reads to CSV(). The counts are the
    same for every seed; the seed sets the order, tags and values."""
    rng = random.Random(seed)
    seq = 0

    def point(tag):
        nonlocal seq
        seq += 1
        return tag, T0_NS + seq * 10**6, rng.randrange(100000) / 100

    preload = [point(t) for _ in range(PRELOAD_PER_TAG) for t in TAGS]
    n = OPS_PER_PASS // 8
    kinds = ["write"] * (4 * n) + ["agg"] * n + ["bucket"] * n + ["tql"] * (2 * n)
    rng.shuffle(kinds)
    ops = []
    for k in kinds:
        if k == "write":
            ops.append(("write", [point(rng.choice(TAGS)) for _ in range(WRITE_BATCH)]))
        elif k == "agg":
            ops.append(("query", ("agg", None)))
        elif k == "bucket":
            ops.append(("query", ("bucket", rng.choice(TAGS))))
        else:
            ops.append(("tql", rng.choice(TAGS)))
    return preload, ops


class Doors:
    """One keep-alive HTTP connection to the server's doors."""

    def __init__(self, port, traced):
        self.c = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        self.prefix = "/trace" if traced else ""

    def call(self, method, path, params, body=None, op=None):
        if op is not None and self.prefix:
            params = dict(params, op=str(op))
        url = self.prefix + path + ("?" + urllib.parse.urlencode(params) if params else "")
        self.c.request(method, url, body=body)
        r = self.c.getresponse()
        return r.status, r.read().decode("utf-8", "replace")

    def write(self, points, op=None):
        body = "\n".join(line(*p) for p in points).encode()
        return self.call("POST", "/metrics/write", {"db": TABLE}, body, op)

    def sql(self, q, op=None):
        return self.call("GET", "/db/query", {"q": q, "format": "csv"}, None, op)

    def tql(self, tag, op=None):
        script = (f"SQL(`SELECT name, time, value FROM {TABLE} WHERE name = '{tag}' "
                  f"ORDER BY time DESC LIMIT {TQL_LIMIT}`)\nCSV()\n")
        return self.call("POST", "/db/tql", {}, script.encode(), op)

    def close(self):
        self.c.close()


def csv_rows(text, header):
    rows = [l.split(",") for l in text.strip().splitlines() if l.strip()]
    return rows[1:] if header else rows


def check_reply(kind, arg, text):
    """Properties every acknowledged reply must hold, whatever ran
    concurrently with it."""
    if kind == "write":
        return True
    if kind == "tql":
        rows = csv_rows(text, header=False)
        times = [int(r[1]) for r in rows]
        return (len(rows) == TQL_LIMIT and all(r[0] == arg for r in rows)
                and all(x > y for x, y in zip(times, times[1:])))
    what, tag = arg
    rows = csv_rows(text, header=True)
    if what == "agg":
        return (sorted(r[0] for r in rows) == sorted(TAGS) and
                all(int(r[1]) >= PRELOAD_PER_TAG and float(r[2]) <= float(r[3]) for r in rows))
    return sum(int(r[1]) for r in rows) >= PRELOAD_PER_TAG


def bucket_sql(tag):
    return (f"SELECT date_trunc('MINUTE', time) AS minute, count(*) AS n, "
            f"avg(value) AS mean FROM {TABLE} WHERE name = '{tag}' "
            f"GROUP BY date_trunc('MINUTE', time) ORDER BY minute")


def serve_pass(port, cpu_s, preload, ops, traced=False):
    """Reset and preload the table, replay the op list on CLIENTS closed
    loops, check the end state; returns (records, wall_s, server CPU s,
    errors) of the op phase. `cpu_s()` reads the server's engine CPU."""
    d = Doors(port, False)
    d.sql(f"DROP TABLE {TABLE}")
    st, body = d.sql(f"CREATE TAG TABLE {TABLE} (name varchar(40) primary key, "
                     f"time datetime basetime, value double summarized)")
    errors = [] if st == 200 else [f"create table: {st} {body[:200]}"]
    for i in range(0, len(preload), PRELOAD_BATCH):
        st, body = d.write(preload[i:i + PRELOAD_BATCH])
        if st != 204:
            errors.append(f"preload: {st} {body[:200]}")
    records = [None] * len(ops)
    nxt = iter(range(len(ops)))
    lock = threading.Lock()

    def client():
        c = Doors(port, traced)
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                break
            kind, arg = ops[i]
            t = time.perf_counter()
            try:
                if kind == "write":
                    st, text = c.write(arg, op=i)
                elif kind == "tql":
                    st, text = c.tql(arg, op=i)
                else:
                    st, text = c.sql(AGG_SQL if arg[0] == "agg" else bucket_sql(arg[1]), op=i)
            except (OSError, http.client.HTTPException) as e:
                st, text = 0, str(e)
                c.close()
                c = Doors(port, traced)
            ms = (time.perf_counter() - t) * 1000.0
            acked = st == (204 if kind == "write" else 200)
            try:
                right = not acked or check_reply(kind, arg, text)
            except (ValueError, IndexError):
                right = False
            records[i] = (kind, ms, acked)
            if not acked:
                errors.append(f"failed {kind} op {i}: status {st}: {text[:200]}")
            if not right:
                errors.append(f"wrong reply to {kind} op {i}: {text[:200]}")
        c.close()

    t0, cpu0 = time.perf_counter(), cpu_s()
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall, cpu = time.perf_counter() - t0, cpu_s() - cpu0
    # end state: every acknowledged write is held, and nothing else
    expect = {}
    for tag, _, v in preload + [p for k, a in ops if k == "write" for p in a]:
        n, lo, hi, s = expect.get(tag, (0, v, v, 0.0))
        expect[tag] = (n + 1, min(lo, v), max(hi, v), s + v)
    st, text = d.sql(AGG_SQL)
    got = {r[0]: (int(r[1]), float(r[2]), float(r[3]), float(r[4]))
           for r in csv_rows(text, header=True)} if st == 200 else {}
    for tag in TAGS:
        e, g = expect[tag], got.get(tag)
        if g is None or g[:3] != e[:3] or abs(g[3] - e[3]) > 1e-9 * max(1.0, abs(e[3])):
            errors.append(f"end state of {tag}: got {g}, sent {e}")
    d.close()
    return records, wall, cpu, errors


def run_serve(a, cp, work):
    preload, ops = op_list(a.seed)
    launch = time.time()
    p = subprocess.Popen(java_cmd(cp, work, [a.workload, "-", work, a.seed, a.seconds, a.trace]),
                         cwd=work, env=java_env(work), stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, stderr=open(os.path.join(work, "jvm.log"), "w"),
                         text=True)
    deadline = launch + JVM_TIMEOUT_S
    try:
        ready = p.stdout.readline().split()
        if len(ready) != 2 or ready[0] != "READY":
            die("server JVM did not start; see its log", 1)
        port = int(ready[1])

        def ask(c):
            p.stdin.write(c + "\n")
            p.stdin.flush()
            return p.stdout.readline().strip()

        def command(c):
            if ask(c) != "DONE":
                die(f"server JVM did not answer {c}", 1)

        def cpu_s():
            return float(ask("CPU"))

        errors, walls = [], []
        recs, pass_walls, pass_cpu = [], [], []
        # a fixed number of warm-up passes, then whole timed passes until
        # the seconds are used and 3 are done
        while len(pass_walls) < 3 or time.perf_counter() - t0 < a.seconds:
            start, start_pc = time.time(), time.perf_counter()
            r, w, cpu, errs = serve_pass(port, cpu_s, preload, ops)
            errors += errs
            if len(walls) < WARMUP_PASSES:
                walls.append(w)
                # the heap is measured before the last warm-up pass, which
                # absorbs the collector's resizing after the full collection
                if len(walls) == WARMUP_PASSES - 1:
                    heap_live = float(ask("HEAP"))
                continue
            if not pass_walls:
                first_op, t0 = start, start_pc
            recs += r
            # a failed op leaves its share of the list undone: the pass
            # wall and CPU are scaled up by it, so a fast failure never
            # shrinks them
            acked = sum(1 for x in r if x[2])
            pass_walls.append(w * len(ops) / acked if acked else math.inf)
            pass_cpu.append(cpu * len(ops) / max(1, acked))

        traced = None
        if a.trace:
            command("TRACE")
            traced = serve_pass(port, cpu_s, preload, ops, traced=True)
        stats_file = os.path.join(work, "stats.json")
        command(f"STATS {stats_file}")
        with open(stats_file) as f:
            stats = json.load(f)
        p.stdin.write("QUIT\n")
        p.stdin.flush()
        p.wait(timeout=max(5, deadline - time.time()))
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    for e in errors[:20]:
        print(f"CHECK FAIL {e}")
    by_kind = {}
    for kind, ms, acked in recs:
        by_kind.setdefault(kind, []).append((ms, acked))
    for kind in sorted(by_kind):
        n_fail = sum(1 for _, acked in by_kind[kind] if not acked)
        print(f"ops {kind}: attempted {len(by_kind[kind])} failed {n_fail}")
    print(f"passes: warm-up {len(walls)} ({', '.join(f'{w:.2f}' for w in walls)} s), "
          f"timed {len(pass_walls)} ({sum(pass_walls):.1f} s of ops), "
          f"CPU s per pass {', '.join(f'{c:.2f}' for c in pass_cpu)}")
    print(f"walls: pass_s {statistics.median(pass_walls):.3f} s, "
          f"ops_per_s {len(ops) / statistics.median(pass_walls):.3f}")
    failed = sum(1 for r in recs if not r[2])
    correct = not [e for e in errors if not e.startswith("failed ")]
    if a.trace:
        trecs, twall, _, _ = traced
        svc = stats["service_ms"]
        metrics = layer_metrics(stats["layers"], os.cpu_count())
        metrics["server.wait_ms"] = sum(r[1] - svc.get(str(i), r[1]) for i, r in enumerate(trecs))
        metrics.update(stats["hygiene"])
        metrics["trace.overhead_pct"] = 100.0 * (twall / statistics.median(pass_walls) - 1)
        metrics["wall.pass_s"] = statistics.median(pass_walls)
        metrics["wall.ops_per_s"] = len(ops) / statistics.median(pass_walls)
        # per-kind client latency of the untraced timed passes: a failed
        # op counts as taking the longest pass's whole wall
        worst = 1000.0 * max(pass_walls)
        for kind in ("write", "query", "tql"):
            ms = [m if ok else worst for m, ok in by_kind[kind]]
            metrics[f"serve.{kind}_p50_ms"] = statistics.median(ms)
        report(a, {"layers": stats["layers"], "traced_pass_s": twall,
                   "timed_pass_walls_s": pass_walls, "per_layer": metrics})
    else:
        metrics = {"setup_s": first_op - launch, "rss_peak_mb": stats["rss_peak_mb"],
                   "heap_live_mb": heap_live,
                   "pass_cpu_s": statistics.median(pass_cpu)}
    return correct, len(recs), failed, metrics


# ------------------------------------------------------------- layers
LAYER_KEYS = [
    "queries.build_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.wall_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_gc_ms", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.core_busy",
    "streaming.batches", "streaming.add_batch_ms", "streaming.overhead_ms",
    "streaming.state_rows", "tql.compile_ms", "server.decode_ms", "server.insert_ms",
    "server.rows_held", "server.query_build_ms", "sinks.render_ms", "sinks.reply_kb",
    "server.wait_ms", "serve.write_p50_ms", "serve.query_p50_ms", "serve.tql_p50_ms",
    "queries.tmp_left_kb", "streaming.ck_left_kb", "trace.overhead_pct",
    "wall.pass_s", "wall.ops_per_s"]


def layer_metrics(t, cores):
    m = {k: float(t.get(k, 0.0)) for k in LAYER_KEYS}
    wall = m["exec.wall_ms"]
    m["exec.core_busy"] = m["exec.task_run_ms"] / (wall * cores) if wall else 0.0
    return m


def report(a, body):
    d = os.path.join(STATE, "reports")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
        json.dump(body, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    busy0, steal0 = cpu_ticks()
    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        run = run_serve if a.workload == "serve_mixed" else run_queries
        correct, attempted, failed, metrics = run(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    busy, steal = (x - y for x, y in zip(cpu_ticks(), (busy0, steal0)))
    # time the hypervisor gave to other guests while this run wanted the CPU
    print(f"host steal during the run: {100.0 * steal / max(1, busy + steal):.1f}% of CPU time")
    units = {"setup_s": "s", "wall.pass_s": "s", "pass_cpu_s": "s", "rss_peak_mb": "MB",
             "heap_live_mb": "MB",
             "wall.ops_per_s": "ops/s"}
    out = {k: {"value": v, "unit": units.get(k, unit_of(k))} for k, v in sorted(metrics.items())}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def unit_of(k):
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_kb", "KB"), ("_pct", "%")):
        if k.endswith(suffix):
            return unit
    return "ratio" if k == "exec.core_busy" else "count"


if __name__ == "__main__":
    main()
