#!/usr/bin/env python3
"""Benchmark for the nightly ClinVar chain and the query registry.

    python3 perfbench/run.py --workload nightly_churn --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
- ``nightly_churn``: ``cli.main(["--nightly", ..., "--with-rs-ids",
  "--with-vcf"])`` on a seeded release k against the snapshot and
  annotations of release k-1, timed cold in a fresh process;
- ``registry``: a fixed number of warm passes (one per
  ``WARM_PASS_S`` of ``--seconds``) over a registry query the roadmap
  names, on seeded tables, in a fresh process after two untimed ones.

The gated job metric is ``job_cpu_s``, the CPU seconds (user + system)
every process of the run spent on the job, as ``time`` reports them;
the job's wall time is printed and reported per layer. On a machine
that shares its host, the time the hypervisor takes from it (steal)
stretches wall time by tens of percent for minutes at a time, and CPU
time does not count it.

Inputs are generated once per (workload, seed) under ``.perfbench/``
at the root of the checkout and reused. Every run checks the
program's outputs (nightly: counters and VCF line count against the
generator's expectation; registry: each query's order-insensitive
digest against its DuckDB twin). Human-readable lines go first; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import functools
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import spans  # noqa: E402
from worker import REGISTRY_QUERIES, digest, session_procs  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench")
NIGHT_BASE_RECORDS = 1000
REGISTRY_SF = 0.002
WORKER_TIMEOUT_S = 165  # the whole run must end within 180 s
WARM_PASS_S = 3.5  # a timed registry pass on 4 vCPUs; --seconds / this = timed passes
NIGHTLY_PHASES = ("load", "annotate", "rs", "vcf")
CLI_SPANS = ("cli.load", "cli.annotate", "cli.rs", "cli.vcf")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_checkout() -> None:
    for rel in ("clinvar_pipeline_spark/cli.py", "clinvar_pipeline_spark/session.py",
                "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}; run from a full checkout")


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _size(workload: str):
    return NIGHT_BASE_RECORDS if workload == "nightly_churn" else REGISTRY_SF


def _inputs(workload: str, seed: int) -> dict:
    d = os.path.join(CACHE, "inputs", f"{workload}-{seed}-{_size(workload)}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    if workload == "nightly_churn":
        import gen_release

        meta = gen_release.make_night(seed, NIGHT_BASE_RECORDS, d)
    else:
        import gen_tables

        tables = os.path.join(d, "tables")
        meta = {"tables": tables, "rows": gen_tables.make_tables(seed, REGISTRY_SF, tables),
                "oracle": _oracle_digests(tables)}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


# ---------------------------------------------------------------------------
# one worker process
# ---------------------------------------------------------------------------

def _run_worker(spec: dict, run_dir: str) -> dict:
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    spec = {**spec, "eventlog": os.path.join(run_dir, "eventlog"),
            "result": os.path.join(run_dir, "result.json")}
    spec_path = os.path.join(run_dir, "spec.json")
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
           "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
           "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
           "TMPDIR": os.path.join(run_dir, "tmp"),
           # every JVM (the spark-submit launcher too) keeps its temp
           # files in the run dir and writes no /tmp/hsperfdata_* file
           "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
           "PYSPARK_PYTHON": sys.executable}
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                                cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        _stop_session(proc)
    if not os.path.exists(spec["result"]):
        return {"ok": False, "error": f"worker exited with {proc.returncode}, no result"}
    with open(spec["result"]) as f:
        return {**json.load(f), "eventlog": spec["eventlog"]}


def _become_subreaper() -> None:
    """Make this process the subreaper of everything it starts: a
    process whose parent ends is re-parented here, so ``_stop_session``
    can reap it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and wait until each
    has ended: the JVM, and Spark's Python daemon and workers, which
    sit in a process group of their own, so a kill of the worker's
    group would miss them."""
    deadline = time.time() + 30
    while True:
        pids = [pid for pid, _ in session_procs(proc.pid)]
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        proc.wait()
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not pids or time.time() > deadline:
            return
        time.sleep(0.05)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# nightly
# ---------------------------------------------------------------------------

def _read_counters(out: str) -> dict:
    import pyarrow.parquet as pq

    got: dict = {}
    for row in pq.read_table(os.path.join(out, "run_counters")).to_pylist():
        got.setdefault(row["phase"], {})[row["counter"]] = row["value"]
    return got


def _vcf_lines(out: str) -> int:
    with open(os.path.join(out, "export.vcf")) as f:
        return sum(1 for line in f if not line.startswith("#"))


def _check_nightly(out: str, expected: dict) -> tuple[dict, list[str]]:
    """Per CLI phase: does its output equal the generator's expectation?"""
    errors: list[str] = []
    try:
        got = _read_counters(out)
        lines = _vcf_lines(out)
    except Exception as e:  # missing or unreadable outputs fail every phase
        return {p: False for p in NIGHTLY_PHASES}, [f"outputs unreadable: {e}"]
    ok = {}
    for phase in NIGHTLY_PHASES:
        want, have = expected[phase], got.get(phase, {})
        ok[phase] = want == have
        if not ok[phase]:
            diff = {k: (want.get(k), have.get(k)) for k in set(want) | set(have)
                    if want.get(k) != have.get(k)}
            errors.append(f"{phase} counters differ (expected, got): {diff}")
    if lines != expected["vcf_lines"]:
        ok["vcf"] = False
        errors.append(f"vcf lines: expected {expected['vcf_lines']}, got {lines}")
    return ok, errors


def nightly(seed: int, trace: bool, run_dir: str) -> dict:
    meta = _inputs("nightly_churn", seed)
    spec = {"mode": "nightly", "paths": meta["paths"], "trace": trace,
            "out": os.path.join(run_dir, "out")}
    res = _run_worker(spec, run_dir)
    if not res.get("ok"):
        return {"ok": False, "attempted": len(NIGHTLY_PHASES), "failed": len(NIGHTLY_PHASES),
                "errors": [res.get("error", "worker failed")], "res": res, "meta": meta}
    ok, errors = _check_nightly(spec["out"], meta["expected"])
    res["stored_bytes"] = _dir_bytes(spec["out"])
    res["counters"] = _read_counters(spec["out"])
    res["vcf_lines"] = _vcf_lines(spec["out"])
    if trace:
        import pyarrow.parquet as pq

        ann = os.path.join(spec["out"], "annotate", "annotations")
        res["annotations_out"] = sum(pq.read_metadata(os.path.join(dp, f)).num_rows
                                     for dp, _, fs in os.walk(ann)
                                     for f in fs if f.endswith(".parquet"))
        maps = pq.read_table(os.path.join(spec["out"], "with_rs", "map_positions"),
                             columns=["map_key"]).column("map_key").to_pylist()
        res["grch38_rows"] = sum(1 for m in maps if m == 38)
        want = meta["expected"]["tiers"]
        have = {k: res["tiers"][k] for k in want}
        if have != want:
            ok["annotate"] = False
            errors.append(f"annotate match paths: expected {want}, got {have}")
    failed = sum(1 for v in ok.values() if not v)
    return {"ok": failed == 0, "attempted": len(NIGHTLY_PHASES), "failed": failed,
            "errors": errors, "res": res, "meta": meta}


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def _oracle_digests(tables: str) -> dict:
    """Order-insensitive digest of each query's DuckDB twin."""
    import duckdb

    from tools.check_correctness import TABLES, norm_rows

    from clinvar_pipeline_spark import queries as q

    oracles = q.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    out = {}
    for name in REGISTRY_QUERIES:
        rel = con.sql(oracles[name])
        out[name] = digest(norm_rows(rel.columns, rel.fetchall()))
    return out


def registry(seed: int, trace: bool, seconds: int, run_dir: str) -> dict:
    meta = _inputs("registry", seed)
    spec = {"mode": "registry", "tables": meta["tables"], "trace": trace,
            "timed_passes": max(1, round(seconds / WARM_PASS_S))}
    res = _run_worker(spec, run_dir)

    if not res.get("ok"):
        n = len(REGISTRY_QUERIES)
        return {"ok": False, "attempted": n, "failed": n,
                "errors": [res.get("error", "worker failed")], "res": res, "meta": meta}
    # every query of every pass, the untimed ones too, is one operation
    errors = []
    for i, p in enumerate(res["passes"]):
        for name in REGISTRY_QUERIES:
            if name in p["errors"]:
                errors.append(f"pass {i}: {name} raised: "
                              f"{p['errors'][name].strip().splitlines()[-1]}")
            elif p["digests"].get(name) != meta["oracle"].get(name):
                errors.append(f"pass {i}: {name}: digest differs from its DuckDB twin")
    # per pass over the fixed set of timed passes: a warm pass costs
    # less the more passes came before it (the JIT keeps compiling),
    # so the same passes are measured on every run
    timed = [p for p in res["passes"] if p["timed"]]
    for k in ("job_s", "cpu_s", "steal_s"):
        res[k] = statistics.fmean(p[k] for p in timed)
    res["query_s"] = {n: statistics.fmean(p["queries"][n] for p in timed)
                      for n in REGISTRY_QUERIES}
    res["timed_passes"] = len(timed)
    res["released"] = sum(p["released"] for p in timed)
    return {"ok": not errors, "attempted": len(REGISTRY_QUERIES) * len(res["passes"]),
            "failed": len(errors), "errors": errors, "res": res, "meta": meta}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=None)
def _tree_id() -> str:
    """Content hash of the program and of this benchmark, so a traced
    run is compared only with untraced runs of the same code."""
    h = hashlib.sha256()
    for top in ("clinvar_pipeline_spark", "perfbench", "tools"):
        for dp, dns, fs in os.walk(os.path.join(ROOT, top)):
            dns[:] = sorted(d for d in dns if d != "__pycache__")
            for f in sorted(fs):
                if f.endswith(".py"):
                    path = os.path.join(dp, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _history_path(workload: str) -> str:
    return os.path.join(CACHE, "history", f"{workload}-{_size(workload)}.jsonl")


def _record_untraced(workload: str, seed: int, job_s: float) -> None:
    path = _history_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"tree": _tree_id(), "seed": seed, "job_s": job_s}) + "\n")


def _untraced_reference(workload: str, seed: int) -> tuple[float, str] | None:
    """Median ``job_s`` of this checkout's correct untraced runs of the
    same code: of the same seed if there are any, else of the same
    workload and size on other seeds. None if there are neither."""
    path = _history_path(workload)
    if not os.path.exists(path):
        return None
    tree = _tree_id()
    with open(path) as f:
        rows = [r for r in map(json.loads, filter(str.strip, f)) if r["tree"] == tree]
    same_seed = [r["job_s"] for r in rows if r["seed"] == seed]
    if same_seed:
        return statistics.median(same_seed), f"same seed, {len(same_seed)} run(s)"
    if rows:
        return statistics.median(r["job_s"] for r in rows), f"other seeds, {len(rows)} run(s)"
    return None


def per_layer(workload: str, r: dict, reference: tuple[float, str] | None) -> dict:
    """Every per-layer metric of a traced run. Metrics of a layer the
    workload does not run read 0; ``trace.overhead_s`` is left out when
    there is no untraced run of the same code to compare with."""
    res, meta = r["res"], r["meta"]
    span_list = res.get("spans", [])
    m = {k: 0.0 for k in PER_LAYER_NAMES}
    m["session.get_spark_s"] = res.get("get_spark_s", 0.0)
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["host.steal_s"] = res["steal_s"]
    if reference is None:
        del m["trace.overhead_s"]
    else:
        m["trace.overhead_s"] = res["job_s"] - reference[0]
    ev = [os.path.join(dp, f) for dp, _, fs in os.walk(res["eventlog"]) for f in fs]
    if ev:
        m.update(spans.fold(span_list, spans.read_events(ev[0])))
    if workload == "registry":
        # the queries layer's Spark numbers, per timed pass
        for k in ("driver_s", "executor_s", "shuffle_mb", "spill_mb", "python_io_mb"):
            m[f"queries.{k}"] /= res["timed_passes"]
        for name in REGISTRY_QUERIES:
            m[f"query.{name}_s"] = res["query_s"][name]
        m["caching.released_frames"] = res["released"] / res["timed_passes"]
        return m
    t = lambda n: spans.total(span_list, n)  # noqa: E731
    m["vcv_xml.frame_s"], m["vcv_xml.parse_s"] = t("vcv_xml.frame"), t("vcv_xml.parse")
    m["vcv_xml.extract_s"] = t("vcv_xml.extract")
    m["vcv_xml.mb_per_s"] = meta["xml_bytes"] / 1e6 / max(m["vcv_xml.extract_s"], 1e-9)
    m["vcv_xml.record_yield"] = res["extracted"] / meta["records"]
    m["load.load_run_s"], m["load.write_snapshot_s"] = t("load.load_run"), t("load.write_snapshot")
    m["load.counters_s"], m["load.variant_diff_s"] = t("load.counters"), t("load.variant_diff")
    load_c = res["counters"].get("load", {})
    entity = [(k, v) for k, v in load_c.items()
              if k.rsplit("_", 1)[-1] in ("INSERT", "UPDATE", "UNCHANGED", "DELETE")]
    m["load.rows_compared"] = sum(v for _, v in entity)
    m["load.rows_changed"] = sum(v for k, v in entity if not k.endswith("UNCHANGED"))
    m["load.change_ratio"] = m["load.rows_changed"] / max(m["load.rows_compared"], 1)
    guard = res.get("guard") or {}
    m["load.guard_deleted"] = 0 if guard.get("aborted") else guard.get("stale", 0)
    m["annotate.annotate_run_s"] = t("annotate.annotate_run")
    m["annotate.write_s"] = spans.self_time(span_list, "cli.annotate")
    tiers = res["tiers"]
    m["annotate.conditions"] = tiers["conditions"]
    m["annotate.match_ratio"] = tiers["matched"] / max(tiers["conditions"], 1)
    for k in ("tier1", "tier2", "tier3"):
        m[f"annotate.{k}"] = tiers[k]
    m["annotate.concept_variants"] = tiers["concept_variants"]
    m["annotate.annotations_out"] = res["annotations_out"]
    annot_c = res["counters"].get("annotate", {})
    m["annotate.rows_changed"] = sum(v for k, v in annot_c.items() if not k.endswith("UNCHANGED"))
    m["vcf.assign_rs_s"], m["vcf.export_s"] = t("vcf.assign_rs"), t("vcf.export")
    m["vcf.lines_out"] = res["vcf_lines"]
    m["vcf.drop_ratio"] = 1 - res["vcf_lines"] / max(res["grch38_rows"], 1)
    for name in CLI_SPANS:
        m[f"{name}_s"] = t(name)
    m["cli.nightly_s"] = res["job_s"]
    m["cli.self_s"] = res["job_s"] - sum(t(n) for n in CLI_SPANS)
    m["cli.records_per_s"] = meta["records"] / res["job_s"]
    m["cli.stored_bytes_ratio"] = res["stored_bytes"] / meta["xml_bytes"]
    return m


def _per_layer_names() -> list[str]:
    names = ["session.get_spark_s", "jvm.peak_rss_mb", "host.steal_s",
             "vcv_xml.frame_s", "vcv_xml.parse_s", "vcv_xml.extract_s", "vcv_xml.mb_per_s",
             "vcv_xml.record_yield",
             "load.load_run_s", "load.write_snapshot_s", "load.counters_s",
             "load.variant_diff_s", "load.rows_compared", "load.rows_changed",
             "load.change_ratio", "load.guard_deleted",
             "annotate.annotate_run_s", "annotate.write_s", "annotate.conditions",
             "annotate.match_ratio", "annotate.tier1", "annotate.tier2", "annotate.tier3",
             "annotate.concept_variants", "annotate.annotations_out", "annotate.rows_changed",
             "vcf.assign_rs_s", "vcf.export_s", "vcf.lines_out", "vcf.drop_ratio",
             "cli.load_s", "cli.annotate_s", "cli.rs_s", "cli.vcf_s", "cli.self_s",
             "cli.nightly_s", "cli.records_per_s", "cli.stored_bytes_ratio"]
    names += [f"query.{q}_s" for q in REGISTRY_QUERIES]
    names += ["caching.released_frames"]
    for layer in ("vcv_xml", "load", "annotate", "vcf", "queries"):
        names += [f"{layer}.{k}" for k in ("driver_s", "executor_s", "shuffle_mb",
                                          "spill_mb", "python_io_mb")]
    names += ["trace.overhead_s"]
    return names


PER_LAYER_NAMES = _per_layer_names()
_UNIT_BY_SUFFIX = (("mb_per_s", "MB/s"), ("records_per_s", "1/s"), ("_mb", "MB"),
                   ("_s", "s"), ("ratio", "ratio"), ("yield", "ratio"))


def unit_of(name: str) -> str:
    return next((u for suffix, u in _UNIT_BY_SUFFIX if name.endswith(suffix)), "count")


def _human(workload: str, r: dict) -> None:
    res, meta = r["res"], r["meta"]
    rows = [("setup_s", res.get("setup_s"), "s"), ("job_cpu_s", res.get("cpu_s"), "s"),
            ("steal_s", res.get("steal_s"), "s")]
    if workload == "nightly_churn":
        rows += [("nightly_s", res.get("job_s"), "s"),
                 ("records_per_s", meta["records"] / res["job_s"] if res.get("job_s") else None, "1/s"),
                 ("stored_bytes_ratio",
                  res["stored_bytes"] / meta["xml_bytes"] if "stored_bytes" in res else None, "ratio")]
    else:
        rows += [("registry_s", res.get("job_s"), "s")]
    rows += [("peak_rss_mb", res.get("peak_rss_mb"), "MB"),
             ("error_rate", r["failed"] / r["attempted"], "ratio")]
    for name, val, unit in rows:
        print(f"{name}: {'n/a' if val is None else f'{val:.4f}'} {unit}")
    for i, p in enumerate(res.get("passes", [])):
        print(f"pass {i} ({'timed' if p['timed'] else 'untimed'}): wall {p['job_s']:.2f} s, "
              f"cpu {p['cpu_s']:.2f} s, steal {p['steal_s']:.2f} s")
    for e in r["errors"]:
        print(f"check failed: {e}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("nightly_churn", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _check_checkout()
    _become_subreaper()
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    try:
        if args.workload == "nightly_churn":
            r = nightly(args.seed, bool(args.trace), run_dir)
        else:
            r = registry(args.seed, bool(args.trace), args.seconds, run_dir)
        if not args.trace:
            if r["ok"]:
                _record_untraced(args.workload, args.seed, r["res"]["job_s"])
            _human(args.workload, r)
            metrics = {"setup_s": r["res"].get("setup_s"), "job_cpu_s": r["res"].get("cpu_s")}
            units = {"setup_s": "s", "job_cpu_s": "s"}
        else:
            _human(args.workload, r)
            metrics, units = {}, {}
            if r["res"].get("ok"):
                reference = _untraced_reference(args.workload, args.seed)
                print("trace.overhead_s: " + (
                    "n/a, no untraced run of this code in this checkout" if reference is None
                    else f"traced job_s minus the median untraced job_s ({reference[1]})"))
                metrics = per_layer(args.workload, r, reference)
                units = {k: unit_of(k) for k in metrics}
                _write_trace(args, r, metrics, reference)
        if any(v is None for v in metrics.values()) or not metrics:
            r["ok"] = False
        print(json.dumps({
            "correct": bool(r["ok"]),
            "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                        if v is not None},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _write_trace(args, r: dict, metrics: dict, reference) -> None:
    d = os.path.join(CACHE, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "tree": _tree_id(),
                   "untraced_reference": reference,
                   "spans": r["res"].get("spans", []), "fold": metrics}, f, indent=1)
    print(f"trace: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
