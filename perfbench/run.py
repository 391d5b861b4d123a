#!/usr/bin/env python3
"""graft benchmark: the DP release path and the heavy pipeline operators.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <dp_session|dp_scaled|pipeline_heavy>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
prepares deterministic synthetic tables once per checkout, generates the
seeded script (perfbench/gen_script.py), runs one JVM with Spark on
local[nproc] and a fixed heap, checks every output, and prints one JSON
object as its last line. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones. Everything it writes stays under .bench_build/ in the
checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT / "tools")]

import build  # noqa: E402
import gen_script  # noqa: E402

WORKLOADS = {
    "dp_session": "sf0.1",
    "dp_scaled": "sf0.1x8",
    "pipeline_heavy": "sf0.01",
}
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
DATA_TABLES = {
    "sf0.01": None, "sf0.1": None,
    "sf0.1x8": ["lineitem", "orders", "events"],
}
KEEP_RUNS = 12
# approximate queries: checked against their exact twin's oracle by row
# count and columns
TWINS = {"q59_knn_ivf": "q62_knn_ivf_exact"}
# what --trace 0 and --trace 1 print (BENCHMARK.json lists the same)
END_TO_END = ["setup_s", "ops_per_s"]
PER_LAYER = [
    "op_p50_s", "op_p90_s", "jvm.peak_rss_mb", "jvm.live_heap_mb",
    "ir.analyze_s", "ir.analyze_n", "compile.lower_s", "compile.lower_n", "compile.lower_jobs",
    "catalyst.plan_s", "session.build_s", "session.build_n", "session.release_s",
    "session.release_n", "session.release_jobs", "session.fetch_s", "session.view_s",
    "session.view_n", "session.partition_s", "session.partition_n", "session.jobs_per_release",
    "dp.count_p50_s", "dp.clamped_p50_s", "dp.quantile_p50_s", "dp.hist_p50_s",
    "dp.join_p50_s", "dp.ids_p50_s", "dp.keyset_p50_s", "dp.detect_p50_s",
    "pipeline.construct_s", "pipeline.plan_s", "pipeline.exec_s", "pipeline.ops_n",
    "pipeline.construct_jobs", "pipeline.exec_jobs", "pipeline.checkpoint_jobs",
    "pipeline.probe_jobs", "pipeline.probe_ratio", "pipeline.driver_s", "pipeline.graph_s",
    "pipeline.pairs_s", "pipeline.guard_s", "pipeline.text_s",
    "executor.jobs", "executor.tasks", "executor.cpu_s", "executor.run_s", "executor.gc_s",
    "executor.task_wait_s", "executor.shuffle_write_mb", "executor.spill_mb",
    "executor.input_mb", "executor.failed_tasks",
    "trace.overhead_pct", "trace.span_coverage", "trace.span_sum_ratio", "trace.ops_n"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(base, classes, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # everything a run writes stays in its checkout
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={base / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + opens +
            ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + list(args))


def data_ok(data_root, names):
    """Every named dataset sealed by the generator and still holding rows."""
    import pyarrow.parquet as pq
    for name in names:
        tables = DATA_TABLES[name]
        d = data_root / name
        if not (d / "MANIFEST").exists():
            return False
        for t in tables or [p.name[:-8] for p in d.glob("*.parquet")]:
            files = list((d / f"{t}.parquet").glob("*.parquet"))
            if not files:
                return False
            try:
                if sum(pq.ParquetFile(f).metadata.num_rows for f in files) <= 0:
                    return False
            except Exception:
                return False
    return True


def run_jvm(cmd, log, timeout):
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM timed out after {timeout:.0f} s; log: {log}")


def oracle_digest(sql, data_dir, cache_dir):
    """Row count, columns and canonical digest of an oracle's answer, cached
    per (SQL, dataset)."""
    import duckdb
    from selfcheck import TABLES, canon
    manifest = data_dir.name + (data_dir / "MANIFEST").read_text()
    key = hashlib.sha256((sql + manifest + duckdb.__version__).encode()).hexdigest()[:32]
    path = cache_dir / f"{key}.json"
    if path.exists():
        return json.loads(path.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    cols, rows = canon(con.execute(sql).arrow())
    res = {"rows": len(rows), "cols": cols,
           "digest": hashlib.sha256(repr(rows).encode()).hexdigest()}
    cache_dir.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(res))
    return res


def check_pipeline(report, run_dir, data_dir, cache_dir):
    """Oracle comparison of pipeline_heavy: each query's dumped result by
    row count and canonical digest; every op's count by row count. Returns
    the number of failed ops and the problems found."""
    import pyarrow.parquet as pq
    from selfcheck import canon
    sqls = json.loads((run_dir / "oracle_sql.json").read_text())
    failed, problems = 0, []
    for counts in report["info"]["counts"]:
        for q, ns in counts.items():
            oq = TWINS.get(q, q)
            if oq not in sqls:
                failed += len(ns)
                problems.append(f"{q}: no oracle")
                continue
            want = oracle_digest(sqls[oq], data_dir, cache_dir)
            bad = [n for n in ns if n != want["rows"]]
            why = []
            if bad:
                why.append(f"row counts {sorted(set(bad))} != {want['rows']}")
            res = run_dir / "results" / q
            if res.exists():
                cols, rows = canon(pq.read_table(res))
                if q in TWINS:
                    # approximate: the exact twin's columns plus its score
                    if not set(want["cols"]) <= set(cols):
                        why.append(f"columns {cols} lack {want['cols']}")
                elif cols != want["cols"]:
                    why.append(f"columns {cols} != {want['cols']}")
                elif hashlib.sha256(repr(rows).encode()).hexdigest() != want["digest"]:
                    why.append("canonical digest differs from the oracle")
            if why:
                failed += len(ns)
                problems.append(f"{q}: " + "; ".join(why))
    return failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    base = ROOT / ".bench_build" / "perfbench"
    for d in ("tmp", "spark-local", "data"):
        (base / d).mkdir(parents=True, exist_ok=True)
    classes = build.build(base)
    data_root = base / "data"
    need = [WORKLOADS[a.workload]]
    if not data_ok(data_root, need):
        code = run_jvm(java_cmd(base, classes, "prepare", str(data_root), str(cores()),
                                str(base / "spark-local"), ",".join(need)),
                       base / "prepare.log", timeout=max(60, 840 - (time.time() - t_start)))
        if code != 0 or not data_ok(data_root, need):
            raise SystemExit(f"data preparation failed; log: {base / 'prepare.log'}")

    runs = base / "runs"
    runs.mkdir(exist_ok=True)
    for old in sorted(runs.iterdir(), key=lambda p: p.stat().st_mtime)[:-KEEP_RUNS]:
        shutil.rmtree(old, ignore_errors=True)
    run_dir = runs / f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    is_dp = a.workload.startswith("dp_")
    if is_dp:
        script = gen_script.dp_script(a.seed)
        (run_dir / "script.txt").write_text(script)
        extra = [f"script={run_dir / 'script.txt'}",
                 f"exact={base / 'exact' / (build.stamp(build.sources())[:16] + '-' + WORKLOADS[a.workload])}"]
    else:
        script = ",".join(gen_script.pipeline_order(a.seed)) + "\n"
        extra = [f"order={script.strip()}", f"results={run_dir / 'results'}",
                 f"oracles={run_dir / 'oracle_sql.json'}"]
    digest = hashlib.sha256(script.encode()).hexdigest()

    out = run_dir / "report.json"
    cmd = java_cmd(base, classes, "run", f"workload={a.workload}", f"seconds={a.seconds}",
                   f"trace={a.trace}", f"cores={cores()}",
                   f"data={data_root / WORKLOADS[a.workload]}",
                   f"local={base / 'spark-local'}", f"out={out}", *extra)
    # the JVM's deadline grows with --seconds, so that a slower program
    # reports worse figures rather than being cut off; the first run of a
    # checkout, which builds and prepares data, may take up to 900 s in all
    elapsed = time.time() - t_start
    limit = max(892 - elapsed if elapsed > 60 else 0, 120 + 6 * a.seconds)
    code = run_jvm(cmd, run_dir / "jvm.log", timeout=limit)
    if code != 0 or not out.exists():
        raise SystemExit(f"benchmark JVM failed with code {code}; log: {run_dir / 'jvm.log'}")
    report = json.loads(out.read_text())

    failed, problems = report["failed"], list(report["errors"])
    if not is_dp:
        f2, p2 = check_pipeline(report, run_dir, data_root / WORKLOADS[a.workload],
                                base / "oracle")
        failed = min(report["attempted"], failed + f2)
        problems += p2
    attempted = report["attempted"]
    everything = {k: {"value": v["value"], "unit": v["unit"]} for k, v in report["metrics"].items()}
    wanted = PER_LAYER if a.trace else END_TO_END
    missing = [k for k in wanted if k not in everything or everything[k]["value"] is None]
    if missing:
        raise SystemExit(f"benchmark JVM did not report {missing}; log: {run_dir / 'jvm.log'}")
    metrics = {k: everything[k] for k in wanted}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "script_sha256": digest, "cores": cores(), "heap": HEAP,
              "attempted": attempted, "failed": failed,
              "error_rate": failed / attempted if attempted else 0.0,
              "problems": problems, "metrics": everything, "info": report["info"]}
    (run_dir / "record.json").write_text(json.dumps(record, indent=1))

    print(f"# {a.workload} seed={a.seed} script_sha256={digest} cores={cores()} heap={HEAP} "
          f"ops={report['info'].get('ops')} error_rate={record['error_rate']:.4f}")
    for p in problems[:10]:
        print(f"# problem: {p}")
    for k, v in metrics.items():
        print(f"# {k:28s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
