#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It compiles the program and the harness
(`build.py`), builds or reuses the workload's image (`gen_image.py`),
verifies the image against its pins,
runs the JVM harness (`scala/Harness.scala`), and checks the result digest
of every query, taken in the untimed warm-up pass, against the digest
pinned for that image.  An untraced run also times one more set-up, in a
fresh JVM.  The last line of
standard output is one JSON object: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer metrics.  Lines before it give the
box stamp, the metrics with units, and where the detail files are.

`--seed` only permutes the order in which each pass runs the queries; the
program sees nothing but the image.  Development modes, not part of a
benchmark run: `--queries all` runs the workload's whole ledger half
instead of its panel, and `--pin` records digests and image pins instead of
checking them (see README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build as build_mod  # noqa: E402
import gen_image  # noqa: E402

CONFIG = os.path.join(HERE, "workloads.json")
PINS = os.path.join(HERE, "pins.json")
JVM_DEADLINE_S = 170
SETUPS = 2  # set-ups per untraced run, each in a fresh JVM; setup_s is their median
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
FAMILIES = ["verbs", "joins", "windows", "sampling", "layout", "streaming",
            "corpus", "dedup", "vector"]


def load_json(path, default=None):
    if not os.path.exists(path):
        return default
    with open(path) as fh:
        return json.load(fh)


def jvm_cmd(classpath, build_dir, main, args):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + opens + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main] + args)


def run_jvm(classpath, build_dir, main, args, scratch, out, timeout):
    """Runs one JVM to its end; it must write `out`. Raises SystemExit,
    after stopping the JVM, when it fails or outlives `timeout`."""
    proc = subprocess.Popen(jvm_cmd(classpath, build_dir, main, args),
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit(f"perfbench: {main} exceeded its time limit")
    except BaseException:  # interrupted or terminated: stop the JVM too
        proc.kill()
        proc.communicate()
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"perfbench: {main} failed (exit {proc.returncode})")


def image_digest(path):
    """sha256 over the bytes of every table file."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(path, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def row_counts(path):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(path, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def ensure_image(name, spec, build_dir):
    """Generates the image once per checkout; returns (path, seconds spent)."""
    path = os.path.join(build_dir, "images", name)
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.time()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_image.main(tmp, spec["sf"], spec["seed"])
    os.rename(tmp, path)
    return path, time.time() - t0


def verify_image(name, path, pins, pin_mode):
    got = {"sha256": image_digest(path), "rows": row_counts(path)}
    want = pins.setdefault("images", {}).get(name)
    if pin_mode and want is None:
        pins["images"][name] = got
        return got
    if want != got:
        raise SystemExit(f"perfbench: image {name} does not match its pins: the "
                         f"generator changed (got {got}, pinned {want})")
    return got


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def nearest_rank(xs, q):
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def count(shot, key):
    """A traced shot's counter, summed over its build and sink phases."""
    return shot["build_counts"].get(key, 0) + shot["sink_counts"].get(key, 0)


def family_of(config):
    return {q: f for f in FAMILIES for q in config["ledger"][f]}


def clean(passes):
    """The passes in which no shot threw: a failed shot ends early, and its
    pass must not be timed as fast."""
    return [p for p in passes if not any(s["err"] for s in p["shots"])]


def end_to_end(rec, setups):
    """Timing metrics over passes without failed shots; None when none is left."""
    cold = clean(rec["passes"][:1])
    warm = clean(rec["passes"][1:])
    shots = [s["wall"] for p in warm for s in p["shots"]]
    return {
        "wall_s": (median([p["wall"] for p in warm]) if warm else None, "s"),
        "cold_wall_s": (cold[0]["wall"] if cold else None, "s"),
        "shot_p50_s": (median(shots) if shots else None, "s"),
        "shot_p90_s": (nearest_rank(shots, 0.9) if shots else None, "s"),
        "setup_s": (median(setups), "s"),
    }, len(shots)


def result_rows(rec):
    """Rows each query returns, from the digests of the warm-up pass."""
    return {s["q"]: int(s["digest"].split(":")[0])
            for s in rec["warmup"]["shots"] if s["digest"]}


def per_layer(rec, config, cpus):
    """Per-layer metrics: per-pass totals over the traced warm passes
    without failed shots (median over those passes), the probes, and the
    tracing overhead."""
    fam = family_of(config)
    rows_of = result_rows(rec)
    warm = clean(rec["passes"][1:])
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    spark_keys = ["jobs", "stages", "tasks", "sched_delay_s", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
                  "failed_tasks"]
    plan_keys = ["exchanges", "sorts", "smj", "bhj", "nested_loop", "window_unpartitioned",
                 "inmem_scans"]

    def per_pass(p):
        m = {}
        shots = p["shots"]
        shot_wall = sum(s["wall"] for s in shots)
        m["ledger.build_s"] = sum(s["build"] for s in shots)
        m["ledger.eager_jobs"] = sum(s["build_counts"].get("jobs", 0) for s in shots)
        m["spark.plan_s"] = sum(s["plan_s"] for s in shots)
        m["spark.driver_share"] = 1 - sum(s["jobs_union_s"] for s in shots) / shot_wall
        for k in spark_keys:
            m[f"spark.{k}"] = sum(count(s, k) for s in shots)
        m["spark.peak_exec_mem_bytes"] = max(
            max(s["build_counts"].get("peak_exec_mem_bytes", 0),
                s["sink_counts"].get("peak_exec_mem_bytes", 0)) for s in shots)
        m["spark.core_busy"] = m["spark.task_run_s"] / (p["wall"] * cpus)
        for k in plan_keys:
            m[f"plan.{k}"] = sum(s["plan"].get(k, 0) for s in shots)
        pins = sum(s["pins"] for s in shots)
        m["operators.cache_pins_max"] = max(s["pins"] for s in shots)
        m["operators.cache_bytes_max"] = max(s["cache_bytes"] for s in shots)
        m["operators.cache_reuse_ratio"] = m["plan.inmem_scans"] / pins if pins else 0.0
        for f in FAMILIES:
            m[f"operators.{f}_s"] = sum(s["wall"] for s in shots if fam.get(s["q"]) == f)
        for k in ["scan_rows", "scan_bytes", "write_rows", "write_bytes"]:
            m[f"sources.{k}"] = sum(count(s, k) for s in shots)
        returned = sum(rows_of.get(s["q"], 0) for s in shots)
        m["sources.rows_per_result"] = m["sources.scan_rows"] / max(1, returned)
        m["self.pass_s"] = p["wall"] - shot_wall
        m["self.build_s"] = sum(s["self_build_s"] for s in shots)
        m["self.sink_s"] = sum(s["self_sink_s"] for s in shots)
        m["self.job_s"] = sum(s["self_job_s"] for s in shots)
        m["self.stage_s"] = sum(s["stage_union_s"] for s in shots)
        return m

    if not traced or not untraced:
        return {}
    rows = [per_pass(p) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["process.cpu_s"] = median([p["cpu"] for p in warm])
    out["process.peak_rss_mb"] = rec["peak_rss_mb"]
    out.update(sorted(rec["probes"].items()))
    tw, uw = median([p["wall"] for p in traced]), median([p["wall"] for p in untraced])
    out["trace.overhead_s"] = tw - uw
    out["trace.overhead_frac"] = (tw - uw) / uw
    return out


def query_detail(rec, config):
    """Per-query layer split of the traced passes (medians)."""
    by_q = {}
    for p in rec["passes"][1:]:
        if p["traced"]:
            for s in p["shots"]:
                by_q.setdefault(s["q"], []).append(s)
    fam = family_of(config)
    out = {}
    for q, shots in sorted(by_q.items()):
        out[q] = {
            "family": fam.get(q, ""),
            "wall_s": median([s["wall"] for s in shots]),
            "build_s": median([s["build"] for s in shots]),
            "plan_s": median([s["plan_s"] for s in shots]),
            "jobs_union_s": median([s["jobs_union_s"] for s in shots]),
            "eager_jobs": median([s["build_counts"].get("jobs", 0) for s in shots]),
            "jobs": median([count(s, "jobs") for s in shots]),
            "task_run_s": median([count(s, "task_run_s") for s in shots]),
            "shuffle_bytes": median([count(s, "shuffle_write_bytes") for s in shots]),
            "pins": median([s["pins"] for s in shots]),
            "plan": shots[0]["plan"],
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="panel", choices=["panel", "all"])
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.time()
    root = os.getcwd()
    config = load_json(CONFIG)
    if a.workload not in config["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wl = config["workloads"][a.workload]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cpus = os.cpu_count() or 1
    classpath = build_mod.build(root, build_dir)

    pins = load_json(PINS, {})
    image, built_s = ensure_image(wl["image"], config["images"][wl["image"]], build_dir)
    if built_s:
        print(f"perfbench: image {wl['image']} built in {built_s:.1f} s "
              "(not part of any workload metric)", flush=True)
    img = verify_image(wl["image"], image, pins, a.pin)

    queries = wl["panel"] if a.queries == "panel" else [
        q for f in wl["families"] for q in config["ledger"][f]]
    out_dir = os.path.join(build_dir, "results", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    raw = os.path.join(out_dir, f"{tag}.raw.json")
    spans = os.path.join(out_dir, f"{tag}.spans.jsonl")
    scratch = os.path.join(build_dir, "tmp", tag)
    common = [f"image={image}", f"cpus={cpus}",
              "rows=" + ",".join(f"{k}:{v}" for k, v in img["rows"].items())]

    def deadline():
        return None if a.queries == "all" else max(10, JVM_DEADLINE_S - (time.time() - t_start))

    cpu0 = cpu_ticks()
    run_jvm(classpath, build_dir, "perfbench.Harness", common + [
        f"queries={','.join(queries)}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"scratch={scratch}", f"out={raw}", f"spans={spans}"],
        scratch, raw, deadline())
    rec = load_json(raw)
    cpu1 = cpu_ticks()
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    # The harness set up once before its cold pass; the other set-ups run
    # alone in fresh JVMs after it, so none of them warms the timed passes.
    setups = [rec["setup_s"]]
    for i in range(1, 1 if a.trace else SETUPS):
        out = os.path.join(out_dir, f"{tag}.setup{i}.json")
        run_jvm(classpath, build_dir, "perfbench.SetUp",
                common + [f"scratch={scratch}", f"out={out}"], scratch, out, deadline())
        setups.append(load_json(out)["setup_s"])

    # Output check: the digest of every warm-up shot against the digest
    # pinned per image. A shot of any pass that throws also fails.
    pinned = pins.setdefault("digests", {}).setdefault(wl["image"], {})
    attempted = failed = 0
    bad = {}
    for p in rec["passes"] + [rec["warmup"]]:
        for s in p["shots"]:
            attempted += 1
            checked = p is rec["warmup"]
            if a.pin and checked and not s["err"] and s["q"] not in pinned:
                pinned[s["q"]] = s["digest"]
            if s["err"] or (checked and s["digest"] != pinned.get(s["q"])):
                failed += 1
                bad[s["q"]] = s["err"] or f"digest {s['digest']} != pinned {pinned.get(s['q'])}"
    if a.pin:
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")

    stamp = dict(rec["stamp"], heap=HEAP, image=wl["image"], image_sha256=img["sha256"][:16],
                 source=build_mod.key(sum(build_mod.sources(root), []), "")[:16],
                 commit=git_commit(root), steal_frac=round(steal, 4))
    print("perfbench stamp: " + json.dumps(stamp, sort_keys=True))
    for q, why in sorted(bad.items()):
        print(f"perfbench: FAILED {q}: {why}")
    print(f"perfbench: {a.workload}: {len(queries)} queries, {len(rec['passes']) - 1} warm "
          f"passes, failed_frac = {failed}/{attempted} = {failed / attempted:.4f}")

    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(rec, config, cpus).items()}
        detail = os.path.join(out_dir, f"{tag}.queries.json")
        with open(detail, "w") as fh:
            json.dump(query_detail(rec, config), fh, indent=1)
        print(f"perfbench: per-query detail {detail}; spans {spans}")
        print("perfbench: operators.global_s is not measured: no q_global_* query is in "
              "a panel, because one takes 4 to 7 s warm (see README.md)")
    else:
        metrics, n = end_to_end(rec, setups)
        print("perfbench: setup_s is the median of " + ", ".join(f"{x:.3f}" for x in setups))
        print(f"perfbench: shot_p50_s and shot_p90_s over {n} warm shots "
              f"({n - math.ceil(0.9 * n)} beyond p90)")
    for k, (v, u) in metrics.items():
        print(f"  {k:34s} {v if v is None else format(v, '.6g')} {u}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(dict(result, stamp=stamp, workload=a.workload, seed=a.seed), fh)
    print(json.dumps(result))


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_rows_s"):
        return "rows/s"
    if name.endswith("_bytes") or name.endswith("bytes_max"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_share", "_busy", "_ratio", "_yield", "_frac", "rows_per_result")):
        return "ratio"
    return "count"


def cpu_ticks():
    """(all ticks, steal ticks) from /proc/stat: time other tenants of the
    host took from this machine's CPUs shows as steal."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7] if len(f) > 7 else 0
    except OSError:
        return 0, 0


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or "none"


if __name__ == "__main__":
    main()
