#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload drain-static --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

Run from the repository root. The first run builds the harness and the
program from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Inputs come from the seed; the
JVM side (perfbench/src) drives the program, and this script checks the
outputs and derives the metrics. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A failed output check
prints the same line with "correct": false, writes a failure record and
exits 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pb import checks, stats, tables  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
TIME_LIMIT_S = 170
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class Failed(Exception):
    """A run that cannot produce a result: a build or JVM failure."""


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    return files


def jars_dir():
    """The jar directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise Failed("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build():
    """Compiles the harness with the program unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise Failed("the program's sources (src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_JARS=jars_dir())
    if os.path.exists(SBT_REPOS):
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                       f"-Dsbt.repository.config={SBT_REPOS}")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=f, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise Failed(f"build failed, see {log}")
    with open(STAMP, "w") as f:
        f.write(digest)


def canary_ms():
    """A fixed single-threaded loop: compare before and after to spot a
    contended run."""
    best = None
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        dt = (time.perf_counter() - t) * 1e3
        best = dt if best is None else min(best, dt)
    return best


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(args, work, heap, deadline):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{jars_dir()}/*", "graft.perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise Failed(f"JVM timed out, see {log}")
    if r.returncode != 0:
        with open(log) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:5]
        raise Failed(f"JVM exited {r.returncode}: {tail}, see {log}")
    return load_json(args["out"])


def landed_rows(table_dir):
    """(camera_id, frame_ms, processing_ms) of every row in a results table."""
    if not glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True):
        return []
    import duckdb
    con = duckdb.connect()
    return con.execute(
        "SELECT camera_id, epoch_ms(frame_timestamp), epoch_ms(processing_timestamp) "
        f"FROM read_parquet('{table_dir}/**/*.parquet', hive_partitioning = true)").fetchall()


def parquet_files(table_dir):
    return len(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))


def progress_layers(progress):
    """sink.* and state.* from the StreamingQueryProgress events of batches
    that read input."""
    evs = [e for e in progress if e["input_rows"] > 0]

    def p50(key):
        return stats.median([e["duration_ms"].get(key, 0) for e in evs]) or 0
    return {
        "sink.batches": len(evs),
        "sink.rows_per_batch_p50": stats.median([e["input_rows"] for e in evs]) or 0,
        "sink.add_batch_ms_p50": p50("addBatch"),
        "sink.add_batch_ms_max": max([e["duration_ms"].get("addBatch", 0) for e in evs] or [0]),
        "sink.query_planning_ms_p50": p50("queryPlanning"),
        "sink.wal_commit_ms_p50": p50("walCommit"),
        "sink.commit_offsets_ms_p50": p50("commitOffsets"),
        "sink.latest_offset_ms_p50": p50("latestOffset"),
        "state.commit_ms_p50": stats.median([e["state_commit_ms"] for e in evs]) or 0,
        "state.rows_total": evs[-1]["state_rows"] if evs else 0,
        "state.memory_bytes": max([e["state_memory_bytes"] for e in evs] or [0]),
    }


# ------------------------------------------------------------ workloads

def drain_result(raw, cfg):
    exp = raw["expected"]
    cams = [f"cam{c}" for c in range(exp["cameras"])]
    t0 = 1_700_000_000_000 + (raw["seed"] % 10_000) * 86_400_000
    keys = {(c, t0 + r * exp["step_ms"]) for r in range(exp["frames_per_camera"]) for c in cams}
    pngs = ({checks.png_name(c, t) for c, t in keys if t != t0} if exp["moving"] else set())
    failures, attempted, landed, lat_ms, png_stats = [], 0, 0, [], {}
    for d in raw["drains"]:
        rows = landed_rows(os.path.join(d["dir"], "table"))
        f, once = checks.frames_landed([(c, t) for c, t, _ in rows], keys)
        pf, n_png, png_bytes = checks.pngs(os.path.join(d["dir"], "img"), pngs,
                                           exp["rows"], exp["cols"])
        failures += f + pf
        attempted += len(keys)
        if d["tag"] != "warmup":
            landed += len(once)
            lat_ms += [d["wall_s"] * 1e3] * len(once)
        png_stats[d["tag"]] = (n_png, png_bytes, parquet_files(os.path.join(d["dir"], "table")))
    measured = [d for d in raw["drains"] if d["tag"] != "warmup"]
    e2e = {"frames_per_s": landed / sum(d["wall_s"] for d in measured),
           "latency_samples": lat_ms}
    lay = {}
    if "traced" in png_stats:
        # the untraced drain wall, split into measured layers: the batch cuts
        # through the parquet write, plus per drain the state-store commit,
        # the trigger's coordination outside addBatch, and the query's start
        # and stop outside its trigger
        traced = [d["wall_s"] for d in measured if d["tag"] == "traced"]
        untraced = [d["wall_s"] for d in measured if d["tag"] == "untraced"]
        evs = [e for e in raw["progress"] if e["input_rows"] > 0]
        n = len(traced)
        coord = sum(e["duration_ms"]["triggerExecution"] - e["duration_ms"]["addBatch"]
                    for e in evs) / n / 1e3
        commit = sum(e["state_commit_ms"] for e in evs) / n / 1e3
        lifecycle = sum(traced) / n - sum(e["duration_ms"]["triggerExecution"] for e in evs) / n / 1e3
        w = sum(untraced) / len(untraced)
        explained = raw["layers"]["processor.sink_s"] + commit + coord + lifecycle
        lay = dict(progress_layers(raw["progress"]))
        n_png, png_bytes, n_parquet = png_stats["traced"]
        lay.update({"cv.png_files": n_png, "cv.png_bytes": png_bytes,
                    "sink.parquet_files": n_parquet, "sink.coordination_s": coord,
                    "sink.lifecycle_s": lifecycle,
                    "layers.unexplained_ratio": (w - explained) / w,
                    "trace.overhead_ratio": (sum(traced) / n) / w - 1})
    return failures, attempted, e2e, lay


def live_result(raw, cfg):
    lv, exp = raw["live"], raw["expected"]
    due = [lv["start_ms"] + int(k * lv["period_ms"] + 0.5) for k in range(lv["ticks"])]
    cams = [f"cam{c}" for c in range(exp["cameras"])]
    keys = {(c, t) for t in due for c in cams}
    moving = {f"cam{c}" for c in exp["moving_cameras"]}
    pngs = {checks.png_name(c, t) for c, t in keys if c in moving and t != due[0]}
    rows = landed_rows(lv["table"])
    failures, once = checks.frames_landed([(c, t) for c, t, _ in rows], keys)
    pf, n_png, png_bytes = checks.pngs(lv["img"], pngs, exp["rows"], exp["cols"])
    failures += pf
    landed = [r for r in rows if (r[0], r[1]) in once]
    lat = stats.latencies([(t, p) for c, t, p in landed], raw["progress"])
    # frames of the warm-up ticks, which carry the query's start-up, must
    # land exactly once but are neither timed nor held to the latency limit
    t_measured = due[lv["warmup_ticks"]]
    measured = [x for (c, t, p), x in zip(landed, lat) if t >= t_measured]
    late = sum(1 for x in lat if x is None) + sum(
        1 for x in measured if x is not None and x > cfg["latency_limit_ms"])
    measured = [x for x in measured if x is not None]
    backlog_limit = cfg["rate_fps"] * cfg["backlog_limit_ms"] / 1e3
    if lv["backlog_frames_end"] > backlog_limit:
        failures.append({"check": "backlog_grew", "backlog_frames_end": lv["backlog_frames_end"],
                         "limit": backlog_limit})
    if not lv["drained_all"]:
        failures.append({"check": "not_drained", "written": len(keys)})
    last_commit = max(e["arrival_ms"] for e in raw["progress"] if e["input_rows"] > 0)
    n_measured = sum(1 for c, t in once if t >= t_measured)
    e2e = {"frames_per_s": n_measured / ((last_commit - t_measured) / 1e3),
           "latency_samples": measured, "failed_late": late}
    lay = dict(progress_layers(raw["progress"]))
    lay.update({"cv.png_files": n_png, "cv.png_bytes": png_bytes,
                "sink.parquet_files": parquet_files(lv["table"]),
                "generator.lag_ms_p99": stats.tail(lv["lag_ms"])["value"],
                "generator.backlog_frames_end": lv["backlog_frames_end"]})
    return failures, len(keys), e2e, lay


def catalog_result(raw, cfg, tables_dir):
    cat = raw["catalog"]
    entries = [e["name"] for e in cat["entries"]]
    failures, verdicts = checks.catalog(ROOT, tables_dir, cat["results"], entries)
    walls = [e["wall_s"] for e in cat["entries"]]
    e2e = {"catalog_wall_s": sum(walls)}
    lay = {f"catalog.{e['name']}.wall_s": e["wall_s"] for e in cat["entries"]}
    lay["catalog.wall_s"] = sum(walls)
    return failures, len(entries), e2e, lay


def unit_of(name):
    for suffix, unit in (("_per_s", "1/s"), ("_fps", "1/s"), ("_s", "s"), ("_ms", "ms"),
                         ("_bytes", "bytes"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------- run

def run(workload, seed, seconds, trace, bench):
    start = time.monotonic()
    deadline = start + TIME_LIMIT_S
    config = load_json(os.path.join(HERE, "config.json"))
    cfg = config["workloads"][workload]
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    build()
    deadline = max(deadline, time.monotonic() + 150)  # a fresh build buys its own time
    canary_before = canary_ms()
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cpus": nproc(), "config": os.path.join(HERE, "config.json"), "work": work,
            "out": os.path.join(work, "raw.json"), "spans": os.path.join(work, "spans.jsonl")}
    setup_extra = []
    if cfg["kind"] == "catalog":
        args["tables"] = os.path.join(work, "tables")
        for _ in range(config["setup_repeats"]):
            t = time.perf_counter()
            shutil.rmtree(args["tables"], ignore_errors=True)
            tables.generate(args["tables"], seed, cfg["scale"])
            setup_extra.append(time.perf_counter() - t)
    raw = run_jvm(args, work, config["heap"], deadline)
    raw["seed"] = seed
    canary_after = canary_ms()
    setup = setup_extra or raw["setup_s"]

    if cfg["kind"] == "drain":
        failures, attempted, e2e, lay = drain_result(raw, cfg)
    elif cfg["kind"] == "live":
        failures, attempted, e2e, lay = live_result(raw, cfg)
    else:
        failures, attempted, e2e, lay = catalog_result(raw, cfg, args["tables"])
    failed = min(attempted, sum(f.get("count", 1) for f in failures) + e2e.pop("failed_late", 0))
    p50 = p_tail = None
    if "latency_samples" in e2e:
        lat = e2e.pop("latency_samples")
        p50, p_tail = stats.percentile(lat, 50), stats.tail(lat)
        e2e.update({"frame_latency_p50_ms": p50["value"], "frame_latency_p99_ms": p_tail["value"]})
    e2e.update({"setup_s": stats.median(setup), "peak_rss_mb": raw["peak_rss_kb"] / 1024.0})

    # a workload of BENCHMARK.json reports exactly its metrics, 0 for a
    # layer the workload leaves idle; another reports what it measured
    listed = workload in {w["name"] for w in bench["workloads"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if trace:
        values = dict(raw["layers"])
        values.update(lay)
        if raw.get("render_s"):
            values["producer.render_ms_per_frame"] = (
                stats.median(raw["render_s"]) / raw["frames_rendered"] * 1e3)
        values["trace.listener_s"] = raw["listener_s"]
        names = [m["name"] for m in bench["per_layer"]] if listed else sorted(values)
    else:
        values = e2e
        names = [m["name"] for m in bench["end_to_end"]] if listed else sorted(values)
    metrics = {n: {"value": float(values.get(n) or 0), "unit": units.get(n) or unit_of(n)}
               for n in names}
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": nproc(), "cpus": raw["cpus"], "heap_max_bytes": raw["heap_max_bytes"],
        "jdk": raw["jdk"], "spark": raw["spark_version"],
        "canary_ms": {"before": canary_before, "after": canary_after},
        "setup_s": setup, "latency": {"p50": p50, "tail": p_tail},
        "drain_walls_s": [(d["tag"], d["wall_s"]) for d in raw.get("drains", [])],
        "wall_s": time.monotonic() - start, "failures": failures,
        "unreported_layers": sorted(set(values) - set(names)) if trace else [],
    }
    result = {"correct": not failures, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    return record, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload of config.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    bench = load_json(bench_path)
    config = load_json(os.path.join(HERE, "config.json"))
    names = list(config["workloads"]) if a.all else [a.workload]
    if not a.all and a.workload not in config["workloads"]:
        ap.error(f"unknown workload {a.workload}")
    os.makedirs(WORK, exist_ok=True)
    ok = True
    for name in names:
        try:
            record, result = run(name, a.seed, a.seconds, a.trace, bench)
        except Failed as e:
            print(json.dumps({"workload": name, "error": str(e)}), file=sys.stderr)
            sys.exit(2)
        if record["failures"]:
            ok = False
            with open(os.path.join(WORK, "failure.json"), "w") as f:
                json.dump(record, f, indent=1)
            print(json.dumps({"failure": record}), file=sys.stderr)
        if a.all:
            why = config["workloads"][name].get("not_listed")
            print(f"# {name}: attempted {result['attempted']}, failed {result['failed']}"
                  + (f" (not in BENCHMARK.json: {why})" if why else ""))
            for m, v in result["metrics"].items():
                print(f"#   {m} = {v['value']:.6g} {v['unit']}")
        print(json.dumps(record))
        print(json.dumps(result))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
