#!/usr/bin/env python3
"""spiderspark benchmark: crawl workloads, end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn
    python3 perfbench/run.py --smoke                      # the benchmark's own test

Run it from the root of a checkout. The first run compiles the engine and
the benchmark's JVM side (`perfbench/build.py`) into `.bench_build/`.

Each run is a closed loop: one client starts one crawl at a time, on a
fresh store, and starts the next only when it has finished. The crawls
run in a JVM of their own (`perfbench.Fork`), pinned with `taskset` to 4
cores, with a heap sized from this host and a timeout. The inputs — a
seeds table and the matching pages table — are generated from `--seed`
by the engine's own URL synthesizer; the engine receives only those
tables. A crawl runs the `CrawlMain` configuration (pipelined commits,
window rank, bloom seen filter) with the workload's settings.

With `--trace 0` the run reports the end-to-end metrics of
`BENCHMARK.json` (medians over the crawls of the timed window); set-up
(session start, fixture generation, JIT warm-up) is timed separately as
`setup_s`. With `--trace 1` the run times one crawl untraced and one
traced (spans around the public `CrawlWave` calls and a Spark listener),
runs the engine's `ops`, `tfidf` and `streaming` queries on the traced
crawl's samples (each checked against its DuckDB oracle) and the layer
probes, and reports the per-layer metrics; the spans go to
`.bench_out/<workload>-seed<n>-trace.jsonl`.

Every crawl is checked: no `ready` rows remain, the `done`+`error` count
equals the count derived independently from the seeds (`expect.py`),
every sample's render matches its golden fingerprint, and the final
frontier's digest repeats across the crawls of a run and across runs of
one seed (`.bench_out/digests.json`).
A URL that fails a check counts in `failed`; `failed / attempted` is the
failure ratio. A fork that crashes, is killed or hangs leaves a record in
`.bench_out/failures.jsonl`, and the run fails without metrics; with
`--workload all` the other workloads still run and report. To try it,
`--fault crawl_bulk:exit` (or `:hang`, with `--limit-seconds 30`) makes
that workload's fork exit 1 or hang. Each report, with the environment it
was measured in (cores, heap, JVM, Spark, git commit and source hash,
seed, fixture fingerprint), is also kept in `.bench_out/`.

The last line of standard output is one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--workload all` there is no combined object (the workloads share
metric names): each workload prints its own `RESULT <workload> {...}`
line, in run order.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import expect  # noqa: E402

OUT = Path(".bench_out")
WORK = Path(".bench_work")
RUN_LIMIT_S = 170          # one invocation, after the build

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# C2 compiles hot code after a tenth of its default invocation counts, so
# compiled code is in place sooner: without it, back-to-back crawls kept
# getting faster (by ~20%) over the first 40 s of crawling. The engine's
# code is the same either way; this only shortens the way to steady state.
JIT_OPTS = ["-XX:CompileThresholdScaling=0.1"]

# Every crawl runs on 4 cores, its data in 12 partitions (3 tasks per core).
CORES = 4
WORKLOADS = {
    # seed-plan crawl of 75,000 orders (~54k URLs; TPC-H sf0.05) in three
    # large waves (the wave period is far above every host's crawl delay):
    # the plan, the fetch join and the per-URL extract map do most of the
    # work, with a handful of commits. Warm-up: one full crawl; timed: one
    # crawl. (Crawl times in one JVM keep falling over the first three
    # full-size crawls, by ~20% and then ~5%, whatever the warm-up.)
    "crawl_bulk": dict(orders=75000, period=425000, expire_keep=0,
                       compact_every=64, bloom_bits=1 << 22,
                       min_crawls=1, warm_every=1),
    # ~0.47k URLs in four small waves (a short wave period against the hot
    # hosts' crawl delays): per-wave fixed cost dominates — the seen guard
    # with a deliberately under-provisioned bloom filter (so the exact
    # confirm runs on most waves), the commit, a squash every 4 waves and
    # snapshot expiry — while the extract map does little. Warm-up: one
    # full crawl; timed: one crawl.
    "crawl_waves": dict(orders=600, period=5000, expire_keep=4,
                        compact_every=4, bloom_bits=128,
                        min_crawls=1, warm_every=1),
}
SMOKE = dict(orders=300, min_crawls=1)
PARTS = 12


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def heap_mb() -> int:
    """Half of MemTotal, capped at 3 GiB (a crawl here needs far less)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(total_kb // 2048, 3072))


def cpus(n: int) -> str:
    allowed = sorted(os.sched_getaffinity(0))
    return ",".join(str(c) for c in allowed[:n])


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


class ForkFailed(Exception):
    pass


def fork(workload, args, work, deadline, heap, fault=None):
    """Runs the Fork JVM; returns its result dict or raises ForkFailed
    after recording the failure."""
    cores = CORES
    out = work / "result.json"
    kv = dict(args, cores=cores, work=work.resolve(), out=out.resolve())
    if fault:
        kv["fault"] = fault
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["taskset", "-c", cpus(cores), "java", f"-Xms{heap}m", f"-Xmx{heap}m",
            f"-Djava.io.tmpdir={tmp.resolve()}", "-Dspark.ui.enabled=false"]
           + JIT_OPTS + JDK_OPENS + ["-cp", build.classpath(), "perfbench.Fork"]
           + [f"{k}={v}" for k, v in kv.items()])
    timeout = max(1.0, deadline - time.monotonic())
    t0 = time.monotonic()
    err_path = work / "stderr.log"
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=err,
                             cwd=work, start_new_session=True)
        killed = False
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            killed = True
            os.killpg(p.pid, signal.SIGKILL)
            code = p.wait()
        except BaseException:
            # interrupted: stop the fork before leaving
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    wall = time.monotonic() - t0
    if code == 0 and out.is_file():
        return json.loads(out.read_text())
    tail = err_path.read_text(errors="replace").splitlines()[-20:]
    record = dict(workload=workload, cores=cores, exit=code, killed=killed,
                  wall_s=round(wall, 3), timeout_s=round(timeout, 3),
                  stderr_tail=tail, time=time.strftime("%Y-%m-%dT%H:%M:%S"))
    OUT.mkdir(exist_ok=True)
    with open(OUT / "failures.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print("FORK_FAILED " + json.dumps(record), flush=True)
    raise ForkFailed(f"{workload} fork failed (exit {code}, killed {killed})")


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def urls_of(c):
    return c["states"].get("done", 0) + c["states"].get("error", 0)


def check_crawl(c, expected, digest):
    """Failed URLs of one crawl (0 = every check passed)."""
    if c["frontier_digest"] != digest:
        return expected
    bad = abs(urls_of(c) - expected) + c["states"].get("ready", 0) + c["render_mismatch"]
    return min(expected, bad)


def oracle_mismatches(tables, results, names, digests):
    """Queries whose result (Spark's, as parquet under `results`) differs
    from its DuckDB oracle run over the same `tables`: the same column
    names, and the same rows as a multiset. Puts an order-independent
    digest of each result in `digests`."""
    import duckdb
    sqls = json.loads((results / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("orders", "documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    bad = []
    for q in names:
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {sqls[q]}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM '{results}/{q}/*.parquet'")
            cols = sorted(c[0] for c in con.execute("DESCRIBE s").fetchall())
            if cols != sorted(c[0] for c in con.execute("DESCRIBE o").fetchall()):
                raise ValueError("columns differ")
            sel = ", ".join(f'"{c}"' for c in cols)
            rows = sorted(map(repr, con.execute(f"SELECT {sel} FROM s").fetchall()))
            digests[q] = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
            for a, b in (("s", "o"), ("o", "s")):
                n = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {a} "
                                f"EXCEPT ALL SELECT {sel} FROM {b})").fetchone()[0]
                if n:
                    raise ValueError(f"{n} rows of {a} not in {b}")
        except (duckdb.Error, ValueError, KeyError) as e:
            log(f"query {q} against its oracle: {e}")
            bad.append(q)
    con.close()
    return bad


def end_to_end(r):
    crawls = r["crawls"]
    waves = [w for c in crawls for w in c["wave_ms"]]
    return {
        "urls_per_s": (median([urls_of(c) / c["wall_s"] for c in crawls]), "1/s"),
        "first_wave_s": (median([c["first_wave_s"] for c in crawls]), "s"),
        "wave_ms_p50": (median(waves), "ms"),
        "store_mb_per_kurl": (median([c["store_bytes"] / 1e6 / (urls_of(c) / 1e3)
                                      for c in crawls]), "MB/kurl"),
        "heap_mb_p90": (percentile(r["heap_after_gc_mb"], 0.9), "MB"),
        "setup_s": (r["session_s"] + r["fixture_s"] + r["warm_s"], "s"),
    }


def per_layer(r):
    t = r["traced"]
    m = {k: (v, unit_of(k)) for k, v in r["phases"].items()}
    m["spark.core_util"] = (r["phases"]["spark.task_s"] / (t["wall_s"] * CORES), "ratio")
    m["jobs.wave_ms_p90"] = (percentile(t["wave_ms"], 0.9), "ms")
    for k, v in r["pipeline"].items():
        if k != "pages":
            m[k] = (v, unit_of(k))
    m["frontier.schedule_s"] = (r["schedule_s"], "s")
    for k, v in r["filter"].items():
        if k != "keys":
            m[k] = (v, unit_of(k))
    for k, v in r["store"].items():
        if k != "publish_gaps":
            m[k] = (v, unit_of(k))
    for k, v in r["queries"]["metrics"].items():
        m[k] = (v, unit_of(k))
    m["io.write_bytes"] = (t["io"]["write_bytes"], "B")
    m["io.read_bytes"] = (t["io"]["read_bytes"], "B")
    m["io.write_amp"] = (t["io"]["write_bytes"] / max(1, t["text_bytes"]), "ratio")
    # the phase spans cover the traced crawl's wall (report only)
    m["trace.phase_sum_ratio"] = (sum(r["phases"][f"jobs.{p}_s"] for p in
                                      ("init", "prefetch", "wave", "final")) / t["wall_s"], "ratio")
    # the traced crawl against the untraced crawl just before it
    m["trace.overhead"] = (t["wall_s"] / r["crawls"][-1]["wall_s"],
                           "ratio")
    return m


def unit_of(name):
    """Unit of a layer metric, from its name's suffix."""
    if "_ms_p" in name:
        return "ms"
    for suffix in ("us", "ns", "ms", "s"):
        if name.endswith("_" + suffix):
            return suffix
    if "bytes" in name:
        return "B"
    if name.endswith(("_ratio", "_4t")):
        return "ratio"
    return "count"


def run_workload(name, seed, seconds, trace, smoke=False, fault=None,
                 limit_s=RUN_LIMIT_S):
    """Runs one workload; returns (report dict, exit code). The report,
    with its environment, is also kept in `.bench_out/`."""
    shape = dict(WORKLOADS[name], **(SMOKE if smoke else {}))
    source = build.build(log=sys.stderr)
    deadline = time.monotonic() + limit_s
    heap = heap_mb()
    work = WORK / f"{name}-s{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = dict(workload=name, seed=seed, nproc=os.cpu_count(),
               cpus_allowed=len(os.sched_getaffinity(0)), heap_mb=heap,
               git_commit=git_commit(), source_hash=source[:16],
               smoke=smoke, trace=trace)
    args = dict(workload=name, seed=seed, parts=PARTS, seconds=seconds, trace=trace,
                fixtures=(work / "fixtures").resolve(),
                **{k: int(v) for k, v in shape.items()})
    if trace:
        # one untraced crawl, then the traced one (trace.overhead)
        args.update(min_crawls=1, seconds=0)
    expected = None
    try:
        r = fork(name, args, work, deadline, heap,
                 fault=fault if fault in ("exit", "hang") else None)
        env["fixture"] = r["fixture_fingerprint"]
        env["jvm"] = r["jvm"]
        env["spark"] = r["spark"]
        expected = expect.expected_terminal(
            expect.read_seed_urls(str(work / "fixtures" / "seeds")))
        if trace:
            q = r["queries"]
            q["failed"] += oracle_mismatches(
                work / "queries", work / "query-out",
                [n for n in q["names"] if n not in q["failed"]], q.setdefault("digests", {}))
    except ForkFailed as e:
        log(str(e))
        report = dict(env=env, correct=False, attempted=max(1, expected or 1),
                      failed=max(1, expected or 1), metrics={})
        save(report)
        return report, 1
    finally:
        if (work / "trace.jsonl").is_file():
            OUT.mkdir(exist_ok=True)
            shutil.copy(work / "trace.jsonl", OUT / f"{name}-seed{seed}-trace.jsonl")
        shutil.rmtree(work, ignore_errors=True)

    crawls = list(r["crawls"]) + ([r["traced"]] if trace else [])
    digest = crawls[0]["frontier_digest"]
    failed = sum(check_crawl(c, expected, digest) for c in crawls)
    attempted = expected * len(crawls)
    key = ":".join([name, str(seed), source[:16], env["fixture"], json.dumps(shape, sort_keys=True)])
    if not smoke and not check_digest_history(key, digest):
        failed = attempted
    if trace:
        # one operation per query: it fails if it threw or its result
        # differs from its DuckDB oracle
        q = r["queries"]
        attempted += len(q["names"])
        failed += len(q["failed"])
        if q["failed"]:
            log(f"queries failed: {q['failed']}")
        digests = json.dumps(q["digests"], sort_keys=True)
        if not smoke and not check_digest_history(key + ":queries", digests):
            failed += len(q["names"])
    measured = per_layer(r) if trace else end_to_end(r)
    report = dict(env=env, correct=failed == 0, attempted=attempted, failed=failed,
                  measured=measured,
                  metrics={k: {"value": measured[k][0], "unit": measured[k][1]}
                           for k in spec_names(trace) if k in measured},
                  detail=dict(expected_urls=expected, crawls=len(crawls),
                              fixture_s=r["fixture_s"], session_s=r["session_s"],
                              warm_s=r["warm_s"],
                              wall_s=[round(c["wall_s"], 3) for c in r["crawls"]],
                              waves=[len(c["wave_ms"]) for c in r["crawls"]]))
    save(report)
    return report, 0


def save(report):
    env = report["env"]
    OUT.mkdir(exist_ok=True)
    path = OUT / f"{env['workload']}-seed{env['seed']}-trace{env['trace']}.json"
    path.write_text(json.dumps(report, indent=1, sort_keys=True))


def spec_names(trace):
    """The metrics BENCHMARK.json asks for; the report prints every measured
    one, the result line only these."""
    spec = json.loads(Path("BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def check_digest_history(key, digest) -> bool:
    """The same workload, seed, source and fixture must give the same final
    frontier in every run."""
    OUT.mkdir(exist_ok=True)
    path = OUT / "digests.json"
    seen = json.loads(path.read_text()) if path.is_file() else {}
    if key in seen:
        return seen[key] == digest
    seen[key] = digest
    path.write_text(json.dumps(seen, indent=1, sort_keys=True))
    return True


def print_report(report):
    env = report["env"]
    print("ENV " + json.dumps(env, sort_keys=True))
    for k, (v, unit) in sorted(report.get("measured", {}).items()):
        flag = "" if k in report["metrics"] else "  (report only)"
        print(f"  {env['workload']:12s} {k:36s} {v:>16.6g} {unit}{flag}")
    if "detail" in report:
        print("DETAIL " + json.dumps(report["detail"]))
    print(f"CORRECT {report['correct']} attempted={report['attempted']} "
          f"failed={report['failed']} fail_ratio={report['failed'] / report['attempted']:.6g}")


def result_line(report):
    return json.dumps({k: report[k] for k in ("correct", "attempted", "failed", "metrics")})


def smoke():
    """Every workload once, tiny, traced and untraced: every metric named in
    BENCHMARK.json must be printed with its unit, with a correctness verdict."""
    spec = json.loads(Path("BENCHMARK.json").read_text())
    ok = True
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            report, code = run_workload(name, 1, 1, trace, smoke=True)
            print_report(report)
            line = json.loads(result_line(report))
            for m in spec[key]:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    print(f"SMOKE FAIL {name} trace={trace}: {m['name']} missing or wrong unit: {got}")
                    ok = False
            extra = set(line["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                print(f"SMOKE FAIL {name} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
                ok = False
            if code != 0 or line["correct"] is not True:
                print(f"SMOKE FAIL {name} trace={trace}: correct={line['correct']} exit={code}")
                ok = False
    print("SMOKE OK" if ok else "SMOKE FAILED")
    return 0 if ok else 1


def main():
    # SIGTERM unwinds like Ctrl-C, so a running fork is killed and reaped
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fault", default=None,
                    help="fault injection, WORKLOAD:exit or WORKLOAD:hang")
    ap.add_argument("--limit-seconds", type=float, default=RUN_LIMIT_S,
                    help="time limit of one workload's forks (default %(default)s)")
    a = ap.parse_args()
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        fault = dict(f.split(":", 1) for f in a.fault.split(",")) if a.fault else {}
        names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
        code = 0
        for name in names:
            report, c = run_workload(name, a.seed, a.seconds, a.trace, fault=fault.get(name),
                                     limit_s=a.limit_seconds)
            print_report(report)
            code = max(code, c)
            if a.workload == "all":
                print(f"RESULT {name} " + result_line(report), flush=True)
        if a.workload != "all":
            print(result_line(report), flush=True)
        return code
    except build.BuildError as e:
        log(f"perfbench: build failed: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
