#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload gql_serve --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/build.sbt) and caches the class path
in .bench_build/; later runs start the JVM directly. The JVM runs the
workload and writes raw.json; this script then checks the outputs against
DuckDB (outside the timed window), writes a result file with provenance to
.bench_build/results/, and prints one JSON line as its last line of output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced run.
Exit code 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DATA = HERE / "data" / "sf0.01"
HEAP = "6g"
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def classpath():
    """Build graft and the harness if their sources changed; return the
    runtime class path."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    key = digest.hexdigest()
    cp_file, key_file = BUILD / "classpath.txt", BUILD / "classpath.key"
    if cp_file.exists() and key_file.exists() and key_file.read_text() == key:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building graft and the harness with sbt (first run in this checkout)")
    with open(BUILD / "build.log", "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and os.pathsep in l]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD / 'build.log'})")
    cp_file.write_text(lines[-1])
    key_file.write_text(key)
    return lines[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def run_jvm(cp, args, work):
    """Run one workload in a fresh JVM; return (exit code, launch epoch s)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # no hsperfdata file in the system temp dir: the run writes only inside
    # the checkout
    cmd = [java_bin(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", str(DATA), "--work-dir", str(work)]
    if args.workload == "ingest_asof":
        cmd += ["--input-dir", str(work / "ingest" / "src")]
    launched = time.time()
    with open(work / "jvm.out", "w") as o, open(work / "jvm.err", "w") as e:
        proc = subprocess.Popen(cmd, cwd=work, stdout=o, stderr=e,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -9
    return code, launched


# ---------------------------------------------------------------- inputs

TICKS, LATE_PCT, DUP_PCT = 6, 10, 5


def delivery_files(sf_dir, seed, out):
    """Split `events` into TICKS ordered parquet files for ingest_asof.

    A row goes to the file of its (ts, event_id) position, except that
    LATE_PCT % of rows arrive one to three files late (out of order) and
    DUP_PCT % are delivered a second time, one to three files later. File i
    gets modification time i, the order the stream source delivers in."""
    import numpy as np
    import pandas as pd
    ev = pd.read_parquet(Path(sf_dir) / "events.parquet")
    ev = ev.sort_values(["ts", "event_id"], kind="stable").reset_index(drop=True)
    ev["ts"] = ev["ts"].dt.tz_localize("UTC")
    rng = np.random.default_rng(seed)
    base = np.minimum(np.arange(len(ev)) * TICKS // len(ev), TICKS - 1)
    draw = rng.integers(0, 100, len(ev))
    shift = rng.integers(1, 4, (2, len(ev)))
    late = draw < LATE_PCT
    dup = (draw >= LATE_PCT) & (draw < LATE_PCT + DUP_PCT)
    placed = np.where(late, np.minimum(base + shift[0], TICKS - 1), base)
    redelivered = np.minimum(base + shift[1], TICKS - 1)
    rows = pd.concat([ev.assign(_f=placed), ev[dup].assign(_f=redelivered[dup])])
    out.mkdir(parents=True)
    files = []
    for i in range(TICKS):
        f = out / f"tick_{i:03d}.parquet"
        rows[rows["_f"] == i].drop(columns="_f").to_parquet(
            f, index=False, coerce_timestamps="us")
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
        files.append(str(f))
    return files


# ---------------------------------------------------------------- checks

def norm(v):
    """Comparable form of one value from Spark JSON or DuckDB."""
    import datetime as dt
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return ("ts", round(v.timestamp() * 1e6))
    if hasattr(v, "item"):  # numpy scalar
        return norm(v.item())
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        try:
            return norm(dt.datetime.fromisoformat(v.replace("Z", "+00:00")))
        except ValueError:
            return v
    return v


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(xs, ys, ordered):
    if len(xs) != len(ys):
        return False, f"rows: engine {len(xs)} vs reference {len(ys)}"
    if not ordered:
        key = lambda r: tuple((x is None, str(x)) for x in r)
        xs, ys = sorted(xs, key=key), sorted(ys, key=key)
    for i, (x, y) in enumerate(zip(xs, ys)):
        if len(x) != len(y) or not all(same(a, b) for a, b in zip(x, y)):
            return False, f"row {i}: engine {x} vs reference {y}"
    return True, f"{len(xs)} rows"


def flatten(rows, spec, cols):
    """Response rows -> tuples in the oracle's column order, unnesting the
    packed child list as the registry queries do."""
    if spec == "rows":
        return [tuple(norm(r.get(c)) for c in cols) for r in rows]
    kind, field = spec.split(":")
    out = []
    for r in rows:
        kids = r.get(field) or []
        if kind == "explode_outer" and not kids:
            kids = [{}]
        for i, k in enumerate(kids):
            flat = {**{c: v for c, v in r.items() if c != field}, **k,
                    "idx": i + 1}
            out.append(tuple(norm(flat.get(c)) for c in cols))
    return out


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    return con


def query(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [tuple(norm(v) for v in row) for row in cur.fetchall()]


def check_gql(raw, con):
    res = []
    for c in raw.get("gql_checks", []):
        name = f"gql.{c['shape']}#{c['idx']}"
        try:
            body = c["body"]
            if c["status"] != 200 or "errors" in body:
                raise ValueError(f"HTTP {c['status']}: {json.dumps(body)[:300]}")
            rows = body["data"][c["root"]]
            cols, ref = query(con, c["sql"])
            ok, detail = same_rows(flatten(rows, c["flatten"], cols), ref,
                                   c["ordered"])
        except Exception as e:  # a malformed response is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        res.append({"name": name, "ok": ok, "detail": detail})
    return res


def check_batch(raw, con):
    """Collected rows against the job's oracle SQL; every timed count
    against the oracle's row count."""
    res, refs = [], {}
    for c in raw.get("batch_checks", []):
        job = c["job"]
        try:
            if job not in refs:
                refs[job] = query(con, c["sql"])
            cols, ref = refs[job]
            if "rows" in c:
                name = f"batch.{job}.rows"
                ok, detail = same_rows(flatten(c["rows"], "rows", cols), ref, True)
            else:
                name = f"batch.{job}.count#{c['idx']}"
                ok, detail = c["count"] == len(ref), f"engine {c['count']} vs reference {len(ref)} rows"
        except Exception as e:
            name = f"batch.{job}"
            ok, detail = False, f"{type(e).__name__}: {e}"
        res.append({"name": name, "ok": ok, "detail": detail})
    return res


def check_ingest(raw, con):
    ing = raw.get("ingest")
    if not ing:
        return []
    import pandas as pd
    files = ing["files"]

    def latest(k):
        fl = ", ".join(f"'{f}'" for f in files[:k])
        return (f"(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
                f"ORDER BY ts DESC, event_id DESC) AS rn FROM read_parquet([{fl}])) "
                f"WHERE rn = 1)")

    # per tick: keys whose winner beats the stored high-water (fresh), and
    # keys seen for the first time (new) -- last-writer-wins by (ts, event_id)
    frames = []
    for i, f in enumerate(files):
        d = pd.read_parquet(f, columns=["user_id", "ts", "event_id"])
        d["tick"] = i
        frames.append(d)
    ev = pd.concat(frames).sort_values(["tick", "user_id", "ts", "event_id"])
    best = ev.groupby(["tick", "user_id"]).tail(1)
    high, fresh, new = {}, [0] * len(files), [0] * len(files)
    for t, u, ts, eid in best[["tick", "user_id", "ts", "event_id"]].itertuples(index=False):
        w = (ts, eid)
        if u not in high:
            new[t] += 1
        if u not in high or w > high[u]:
            fresh[t] += 1
            high[u] = w

    res = []
    for r in ing["reads"] + [ing["final"]]:
        a, b, shape = r["a"], r["b"], r["shape"]
        name = f"ingest.{shape}@{a}-{b}"
        try:
            if shape == "values":
                cols, ref = query(con, "SELECT 'e:User/' || CAST(user_id AS VARCHAR) AS atom_id, "
                                  f"value, event_type FROM {latest(b)}")
                ok, detail = same_rows(flatten(r["rows"], "rows", cols), ref, False)
            elif shape == "diff":
                cols, ref = query(con, "SELECT 'e:User/' || CAST(x.user_id AS VARCHAR) AS atom_id "
                                  f"FROM {latest(a)} x JOIN {latest(b)} y USING (user_id) "
                                  "WHERE x.value <> y.value")
                ok, detail = same_rows(flatten(r["rows"], "rows", cols), ref, False)
            else:
                # a fresh winner assigns its two fields and the two
                # high-water fields; a new key instantiates its entity and
                # one value atom plus one field relation per field
                got = {x["event"]: x["n"] for x in r["rows"]}
                ref = {"assigned": 4 * sum(fresh[a:b]),
                       "instantiated": 9 * sum(new[a:b])}
                ref = {k: v for k, v in ref.items() if v}
                ok, detail = got == ref, f"engine {got} vs reference {ref}"
        except Exception as e:
            ok, detail = False, f"{type(e).__name__}: {e}"
        res.append({"name": name, "ok": ok, "detail": detail})
    return res


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Percentile with linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def provenance(args):
    def sh(*cmd):
        try:
            return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except Exception:
            return ""
    return {"seed": args.seed, "workload": args.workload, "trace": args.trace,
            "seconds": args.seconds, "git_commit": sh("git", "rev-parse", "HEAD") or None,
            "nproc": os.cpu_count(), "heap": HEAP, "sf_dir": str(DATA)}


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["gql_serve", "ingest_asof", "batch_jobs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no graft sources at {ROOT}: run from the root of a graft checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    t0 = time.time()
    cp = classpath()
    load_start = loadavg()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if args.workload == "ingest_asof":
            delivery_files(DATA, args.seed, work / "ingest" / "src")
        code, launched = run_jvm(cp, args, work)
        raw_file = work / "raw.json"
        if code != 0 or not raw_file.exists():
            tail = (work / "jvm.err").read_text()[-3000:] if (work / "jvm.err").exists() else ""
            log(f"JVM exited with {code}\n{tail}")
            return 1
        raw = json.loads(raw_file.read_text())
        t_jvm = time.time()
        con = connect(DATA)
        checks = raw.get("inline_checks", []) + check_gql(raw, con) + \
            check_ingest(raw, con) + check_batch(raw, con)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    parts = ", ".join(f"{k} {v:.1f}s" for k, v in raw.get("setup_parts", {}).items())
    log(f"build check {launched - t0:.1f}s, jvm {t_jvm - launched:.1f}s ({parts}), "
        f"output checks {time.time() - t_jvm:.1f}s")
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        log(f"check failed: {c['name']}: {c['detail']}")
    for e in raw.get("op_errors", []):
        log(f"op failed: {e}")
    # each op counts once: ops with a per-op output check are counted by
    # their check, the JVM counts the others (mutations, ticks)
    attempted = raw["attempted"] + len(checks)
    failed = raw["failed_ops"] + len(failed_checks)

    setup_s = raw["first_op_epoch_ms"] / 1000.0 - launched
    prim, aux = raw["primary_s"], raw["aux_s"]
    e2e = {"setup_s": setup_s, "op_mean_s": statistics.mean(prim),
           "throughput_per_s": raw["throughput_per_s"], "cache_mb": raw["cache_mb"],
           # reported, not judged: too few samples per run to be steady
           "op_p50_s": statistics.median(prim), "op_p90_s": pct(prim, 0.9),
           "aux_p50_s": statistics.median(aux)}
    e2e.update({f"job_{k}_s": statistics.median(v) for k, v in raw.get("job_s", {}).items()})
    if args.trace:
        layers = raw["trace"]["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": not failed_checks and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}

    record = {"result": result, "end_to_end": e2e,
              "samples": {"op": len(prim), "aux": len(aux)},
              "latencies_s": {"op": prim, "aux": aux},
              "provenance": {**provenance(args), **raw.get("versions", {}),
                             "loadavg_start": load_start, "loadavg_end": loadavg()},
              "checks": checks}
    if args.trace:
        record["spans"] = raw["trace"]["spans"]
        record["layers"] = raw["trace"]["layers"]
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json"
    (results / name).write_text(json.dumps(record, indent=1))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
