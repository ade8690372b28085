#!/usr/bin/env python3
"""Benchmark of the graft engine on fixed registry-query workloads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ref_etl --seed 1 --seconds 8 --trace 0

One client in a closed loop: one JVM with GraftSession.local(nproc) runs
the workload's queries one after another, in passes, through the noop
sink. The seed only fixes each pass's query order. The program is built
from the checkout's sources first (scalac, keyed by a hash of the
sources), then the benchmark's own driver (perfbench/src) against it.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. --trace 0 prints the end-to-end metrics, --trace 1 the
per-layer ones (see perfbench/README.md). The line before it carries
details: per-query medians, the tail percentile used, fixture hashes.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import fingerprint  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# Set-up is launch -> session -> warm passes, which run in the listed
# order whatever the seed. The first pass in a JVM runs 2-4x slower than
# a settled one (cold codegen and class loading).
WARM_PASSES = 2
# Per-query statistics pool the last this-many untraced passes. The
# queries of a workload differ in cost, so the pooled distribution has
# one mode per query; a fixed sample count keeps the tail percentile
# at the same place in it from run to run.
QUERY_PASSES = 6
JVM_TIMEOUT_S = 150
# the JVM flags scripts/run.sh uses, with every temp path made private
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def tree_hash(root: Path, paths):
    """Hash of the files' contents and their paths relative to root."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def scalac(out: Path, jars: str, classpath: str, sources):
    """Compile into a fresh directory, then move it into place, so a
    build cut short never leaves classes behind to be reused."""
    tmp = out.with_name(out.name + ".partial")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=900)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError(f"compile failed:\n{r.stdout[-4000:]}")
    tmp.rename(out)


def build(root: Path, cache: Path):
    """Classes of the program and of the benchmark driver, compiled from
    the checkout's sources. Old classes are never reused: the output
    directory is named after the hash of every source file."""
    main = root / "src" / "main"
    prog_src = [p for p in (main / "scala").rglob("*")
                if p.suffix in (".scala", ".java")]
    if not prog_src or not (root / "build.sbt").is_file():
        raise BenchError(f"no program sources under {main}")
    # the Spark jars build.sbt compiles against, Scala compiler included
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    jars = f"{m.group(1)}/*"
    prog_hash = tree_hash(root, prog_src + [root / "build.sbt"])
    prog = cache / f"program-{prog_hash}"
    if not prog.is_dir():
        log(f"building the program ({len(prog_src)} files) into {prog}")
        scalac(prog, jars, jars, prog_src)
    drv_src = sorted((HERE / "src").rglob("*.scala"))
    drv = cache / f"driver-{prog_hash}-{tree_hash(HERE, drv_src)}"
    if not drv.is_dir():
        log(f"building the benchmark driver into {drv}")
        scalac(drv, jars, f"{prog}:{jars}", drv_src)
    return [drv, prog, main / "resources", jars]


# ------------------------------------------------------------ running

def launch(classpath, run_dir: Path, conf: dict):
    """Run the driver JVM; returns (launch epoch ns, its records)."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    events, log_file = run_dir / "events.jsonl", run_dir / "jvm.log"
    # C1 only: with C2's profile-driven compilation, each JVM settled on
    # its own steady state, and pass walls of one workload ranged
    # 1.3-2.3 s between runs on a 4-core host. A fixed heap: when the
    # full GC between passes could shrink it, G1 ran concurrent marking
    # nearly nonstop in some runs (12 s of CPU in a run instead of 1 s).
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-Xms2g", "-Xmx2g",
           "-XX:ReservedCodeCacheSize=1g", "-XX:MaxMetaspaceSize=2g",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir}",
           "-cp", ":".join(map(str, classpath)),
           "perfbench.Driver", f"out={events}",
           *(f"{k}={v}" for k, v in conf.items())]
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local))
    with open(log_file, "w") as err:
        t0 = time.time_ns()
        try:
            r = subprocess.run(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                               stdout=err, stderr=err, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"the JVM ran over {JVM_TIMEOUT_S}s and was killed")
    if r.returncode != 0:
        tail = log_file.read_text()[-3000:]
        raise BenchError(f"the JVM exited with {r.returncode}:\n{tail}")
    return t0, [json.loads(line) for line in events.read_text().splitlines()]


def marks(records):
    return {r["name"]: r["epoch_ns"] for r in records if r["k"] == "mark"}


# ------------------------------------------------------------ metrics

def tail_of(values):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def unattributed(spans):
    """Per traced pass: the share of its wall no build, execute, job or
    plan span covers (pass and query self time)."""
    st = self_times(spans)
    shares = []
    for p in (s for s in spans if s["name"] == "pass"):
        loose = st[p["id"]] + sum(st[s["id"]] for s in spans
                                  if s["name"] == "query" and s["parent"] == p["id"])
        shares.append(loose / max(1, p["end_ns"] - p["start_ns"]))
    return shares


def verify(wl_name, names, verify_dir: Path, verify_recs, expected):
    """Per query: None when the result matches the expected row count
    and fingerprint, else the reason it does not."""
    import pandas as pd
    errors = {r["name"]: r["error"] for r in verify_recs}
    out = {}
    for n in names:
        if n not in errors:
            out[n] = "no verification result"
        elif errors[n]:
            out[n] = errors[n]
        elif n not in expected:
            out[n] = f"no expected value for {n} in {wl_name}"
        else:
            rows, fp = fingerprint.fingerprint(pd.read_parquet(verify_dir / n))
            want = expected[n]
            out[n] = None if (rows, fp) == (want["rows"], want["fingerprint"]) else (
                f"got {rows} rows / {fp}, expected {want['rows']} / {want['fingerprint']}")
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the verification fingerprints as the expected values")
    a = ap.parse_args(argv)

    root = Path.cwd()
    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    names = wl["queries"]
    fixture = HERE / "fixtures" / wl["fixture"]
    missing = [t for t in TABLES if not (fixture / f"{t}.parquet").is_file()]
    if missing:
        raise BenchError(f"fixture {fixture} lacks {missing}")
    expected_file = HERE / "expected" / f"{a.workload}.json"
    expected = {} if a.record or not expected_file.is_file() else json.loads(
        expected_file.read_text())

    cache = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cache = (root / cache).resolve()
    classpath = build(root, cache)

    run_dir = cache / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        return measure(a, wl, names, fixture, expected, expected_file, classpath,
                       run_dir, cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, wl, names, fixture, expected, expected_file, classpath, run_dir, cache):
    nproc = os.cpu_count()
    conf = {"sf": fixture, "queries": ",".join(names), "seed": a.seed,
            "seconds": a.seconds, "warm": WARM_PASSES, "trace": a.trace, "cpus": nproc,
            "spans": run_dir / "spans.jsonl", "verify": run_dir / "verify"}
    if a.record:
        conf["oracle"] = run_dir / "oracle.jsonl"
    t0, recs = launch(classpath, run_dir, conf)
    exited = time.time_ns()
    m = marks(recs)
    t_check = time.time_ns()
    checks = verify(a.workload, names, run_dir / "verify",
                    [r for r in recs if r["k"] == "verify"], expected)
    phases = {"session": m["session"] - t0, "warm": m["setup_done"] - m["session"],
              "measure": m["measured"] - m["setup_done"], "verify": m["end"] - m["measured"],
              "exit": exited - m["end"], "check": time.time_ns() - t_check}
    if a.record:
        ran = [r["name"] for r in recs if r["k"] == "verify" and not r["error"]]
        record([n for n in names if n in ran], run_dir, fixture, expected_file)
        return 0

    warm = [r for r in recs if r["k"] == "warm"]
    queries = [r for r in recs if r["k"] == "query"]
    passes = [r for r in recs if r["k"] == "pass"]
    bad = [r for r in warm + queries if not r["ok"]]
    for r in bad:
        log(f"query {r['name']} failed: {r['error']}")
    for n, why in checks.items():
        if why:
            log(f"query {n} output check failed: {why}")
    attempted = len(warm) + len(queries) + len(checks)
    failed = len(bad) + sum(1 for why in checks.values() if why)

    def wall(q):
        return (q["build_ns"] + q["exec_ns"]) / 1e9

    def pass_cost(p, field):
        """Pass wall or CPU seconds, less what its failed queries took."""
        lost = [q for q in queries if q["pass"] == p["i"] and not q["ok"]]
        if field == "wall":
            return p["wall_ns"] / 1e9 - sum(map(wall, lost))
        return (p["cpu_ns"] - sum(q["cpu_ns"] for q in lost)) / 1e9

    plain = [p for p in passes if not p["traced"]]
    window = {p["i"] for p in plain[-QUERY_PASSES:]}
    ok = [q for q in queries if q["ok"] and q["pass"] in window]
    if not ok:
        raise BenchError("no query succeeded; nothing to time")
    tail, pct, n = tail_of(list(map(wall, ok)))
    detail = {
        "workload": a.workload, "seed": a.seed, "nproc": nproc, "queries": names,
        "passes": len(passes), "tail_percentile": round(pct, 2), "query_samples": n,
        "query_median_s": {q: statistics.median(wall(r) for r in ok if r["name"] == q)
                           for q in names if any(r["name"] == q for r in ok)},
        "cold_s": {r["name"]: r["wall_ns"] / 1e9 for r in warm if r["pass"] == 0},
        "pass_walls_s": [p["wall_ns"] / 1e9 for p in passes],
        "pass_cpu_s": [p["cpu_ns"] / 1e9 for p in passes],
        "pass_gc_ms": [p["gc_ms"] for p in passes],
        "thread_cpu_s": [r for r in recs if r["k"] == "thread_cpu"][0]["by_group"],
        "phase_s": {k: v / 1e9 for k, v in phases.items()},
        "fixture": wl["fixture"],
        "fixture_sha256": {t: hashlib.sha256((fixture / f"{t}.parquet").read_bytes())
                           .hexdigest() for t in TABLES}}
    if a.trace == 0:
        metrics = {
            "setup_s": ((m["setup_done"] - t0) / 1e9, "s"),
            "pass_s": (statistics.median(pass_cost(p, "wall") for p in plain), "s"),
            "query_p50_s": (statistics.median(map(wall, ok)), "s"),
            "query_tail_s": (tail, "s"),
            "cpu_s": (statistics.median(pass_cost(p, "cpu") for p in plain), "s"),
            "heap_peak_mb": ([r for r in recs if r["k"] == "end"][0]["heap_peak_mb"], "MB"),
            "ok_frac": (1 - failed / attempted, "frac"),
        }
    else:
        traced = [p for p in passes if p["traced"]]
        metrics = layer_metrics(traced)
        setup = [r["layers"] for r in recs if r["k"] == "setup"][0]
        for k in ("codegen_compile_ms", "codegen_classes"):
            metrics[f"functions.setup_{k}"] = (setup[f"functions.{k}"], metrics[f"functions.{k}"][1])
        metrics["session.start_ms"] = ((m["session"] - t0) / 1e6, "ms")
        metrics["session.warmup_ms"] = ((m["setup_done"] - m["session"]) / 1e6, "ms")
        overhead = (statistics.median(pass_cost(p, "wall") for p in traced)
                    - statistics.median(pass_cost(p, "wall") for p in plain))
        metrics["trace.overhead_ms"] = (overhead * 1e3, "ms")
        spans = [json.loads(line) for line in conf["spans"].read_text().splitlines()]
        metrics["trace.unattributed_frac"] = (statistics.median(unattributed(spans)), "frac")
        keep = cache / "trace" / f"{a.workload}-seed{a.seed}.jsonl"
        keep.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(conf["spans"], keep)
        detail["spans"] = str(keep)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


UNITS = {"_ms": "ms", "_mb": "MB", "_frac": "frac"}


def layer_metrics(traced):
    """Per-pass medians of the counters the traced passes recorded."""
    keys = sorted({k for p in traced for k in p["layers"]})
    return {k: (statistics.median(p["layers"].get(k, 0.0) for p in traced),
                next((u for suf, u in UNITS.items() if k.endswith(suf)), "count"))
            for k in keys}


def record(names, run_dir, fixture, expected_file):
    """Write the expected values, after checking every oracle-backed
    query against DuckDB on the same fixture."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    oracle = {}
    for line in (run_dir / "oracle.jsonl").read_text().splitlines():
        r = json.loads(line)
        oracle[r["name"]] = r["sql"]
    out, problems = {}, []
    for n in names:
        df = pd.read_parquet(run_dir / "verify" / n)
        rows, fp = fingerprint.fingerprint(df)
        entry = {"rows": rows, "fingerprint": fp, "oracle": "none"}
        if oracle.get(n):
            duck = con.sql(oracle[n]).df()
            if fingerprint.canon(df) != fingerprint.canon(duck):
                problems.append(n)
            entry["oracle"] = "duckdb"
        out[n] = entry
        log(f"{n}: {rows} rows, {fp}, oracle {entry['oracle']}")
    if problems:
        raise BenchError(f"DuckDB disagrees with the program on {problems}")
    expected_file.parent.mkdir(parents=True, exist_ok=True)
    expected_file.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    log(f"wrote {expected_file}")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
