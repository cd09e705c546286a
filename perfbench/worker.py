"""One measured process: start Spark, run one workload pass, report.

Run by ``run.py`` as ``python3 perfbench/worker.py SPEC.json``; writes
its result to ``spec["result"]``. ``spec["t_spawn"]`` is the wall time
just before the parent started this process, so ``setup_s`` covers
interpreter start, imports and ``session.get_spark``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tr  # noqa: E402

# One of the roadmap's named hot queries: PageRank's iterative shuffle
# loop, many small jobs, so Spark's fixed per-job cost shows. The
# others (ann_topk*, pagerank_fast, perplexity_bands_pct, langid,
# vcf_export) are left out to fit the run budget: each adds its cold
# untimed pass (13-18 s for ann_topk) to every registry run.
REGISTRY_QUERIES = ("pagerank",)
# Neither the cold pass (class loading, codegen, the first JIT tiers)
# nor the one after it is timed: the second pass's CPU time swings
# most between runs (14.9-18.8 s in five runs, against 9.5-13.1 s for
# the three after it). Later passes still get cheaper for a dozen more
# as the JIT keeps compiling, so every run times the same number of
# them, right after the untimed ones.
UNTIMED_PASSES = 2


def _spark(spec: dict):
    from clinvar_pipeline_spark import session

    conf = {}
    if spec["trace"]:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": spec["eventlog"],
        }
    t0 = time.time()
    spark = session.get_spark(extra_conf=conf)
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - spec["t_spawn"], t1 - t0


_HZ = os.sysconf("SC_CLK_TCK")


def session_procs(sid: int):
    """``(pid, stat fields after the command name)`` of every process in
    session ``sid``, zombies too until they are reaped."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended meanwhile
            continue
        if int(fields[3]) == sid:
            yield int(pid), fields


def _cpu_s() -> float:
    """CPU seconds (user + system) used so far by every process of this
    run: this process, the Spark JVM it started and Spark's Python
    workers, which all share this process's session, plus the finished
    processes they reaped (a process that ended and was reaped counts
    in its parent's children fields)."""
    return sum(sum(int(x) for x in fields[11:15])
               for _, fields in session_procs(os.getsid(0))) / _HZ


def _steal_s() -> float:
    """CPU seconds the hypervisor took from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


def _vm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class _TimedWriter:
    def __init__(self, writer, tracer, name):
        self._w, self._t, self._name = writer, tracer, name

    def mode(self, m):
        self._w = self._w.mode(m)
        return self

    def parquet(self, path):
        with self._t.span(self._name):
            self._w.parquet(path)


class _TimedFrame:
    """Delegates to a DataFrame; times ``.write...parquet`` and
    ``.collect`` the way ``cli.cmd_load`` calls them."""

    def __init__(self, df, tracer, name):
        self._df, self._t, self._name = df, tracer, name

    def __getattr__(self, a):
        return getattr(self._df, a)

    @property
    def write(self):
        return _TimedWriter(self._df.write, self._t, self._name)

    def collect(self):
        with self._t.span(self._name):
            return self._df.collect()


def _instrument(tracer: tr.Tracer, found: dict) -> None:
    from clinvar_pipeline_spark import cli
    from clinvar_pipeline_spark.plans import annotate, load, vcf
    from clinvar_pipeline_spark.sources import vcf_sink

    tracer.wrap(cli, "cmd_load", "cli.load", "load.cli")
    tracer.wrap(cli, "cmd_annotate", "cli.annotate", "annotate.write")
    tracer.wrap(cli, "cmd_add_rs_ids", "cli.rs", "vcf.rs")
    tracer.wrap(cli, "cmd_clinvar2vcf", "cli.vcf", "vcf.cli")
    tracer.wrap(annotate, "annotate_run", "annotate.annotate_run")
    tracer.wrap(load, "write_snapshot",
                lambda up: "load.write_snapshot" if up == "cli.load" else None)
    tracer.wrap(vcf, "clinvar2vcf_export", "vcf.export")
    tracer.wrap(vcf_sink, "write_vcf", "vcf.export")

    orig = load.load_run

    def load_run(*a, **kw):
        with tracer.span("load.load_run"):
            res = orig(*a, **kw)
        found["guard"] = {"stale": res.stale_xdb.stale_count,
                          "aborted": res.stale_xdb.aborted}
        return dataclasses.replace(
            res,
            counters=_TimedFrame(res.counters, tracer, "load.counters"),
            variant_diff=_TimedFrame(res.variant_diff, tracer, "load.variant_diff"),
        )

    load.load_run = load_run


def _nightly_argv(spec: dict) -> list[str]:
    p = spec["paths"]
    return ["--nightly", "--xml", p["xml"], "--genes", p["genes"], "--prev", p["prev"],
            "--aux", p["aux"], "--out", spec["out"], "--with-rs-ids", "--with-vcf"]


def _tiers(spark, out_dir: str, aux: str) -> dict:
    """Annotate match paths on tonight's snapshot, through the public
    functions of plans.annotate."""
    from clinvar_pipeline_spark.plans import annotate as A
    from clinvar_pipeline_spark.plans.load import read_snapshot

    snap = read_snapshot(spark, out_dir)
    terms = spark.read.parquet(f"{aux}/ont_terms.parquet")
    syns = spark.read.parquet(f"{aux}/ont_synonyms.parquet")
    carpe = A.carpe_compliant(snap.variants)
    conds = A.variant_conditions(carpe)
    cterms = A.concept_terms(carpe, snap.xdb_ids, snap.gene_associations,
                             spark.read.parquet(f"{aux}/concept_omim.parquet"), terms, syns)
    concept = {r[0] for r in cterms.select("rgd_id").distinct().collect()}
    name_conds = conds.join(cterms.select("rgd_id").distinct(), "rgd_id", "left_anti")
    matched, tiers = set(), {1: 0, 2: 0, 3: 0}
    for cset, ont in ((name_conds, "RDO"), (conds, "HP")):
        best, _ = A.tiered_term_match(cset, snap.aliases, terms, syns, ont)
        for r in best.select("rgd_id", "condition", "tier").distinct().collect():
            tiers[r["tier"]] += 1
            matched.add((r["rgd_id"], r["condition"]))
    all_conds = [(r[0], r[1]) for r in conds.collect()]
    hit = sum(1 for c in all_conds if c in matched or c[0] in concept)
    return {"conditions": len(all_conds), "tier1": tiers[1], "tier2": tiers[2],
            "tier3": tiers[3], "concept_variants": len(concept), "matched": hit}


def run_nightly(spec: dict) -> dict:
    from clinvar_pipeline_spark import cli

    spark, setup_s, get_spark_s = _spark(spec)
    tracer = tr.Tracer(spark) if spec["trace"] else None
    found: dict = {}
    if tracer is not None:
        _instrument(tracer, found)
    buf = io.StringIO()
    c0, s0 = _cpu_s(), _steal_s()
    t0 = time.time()
    chain = tracer.span("cli.nightly") if tracer is not None else contextlib.nullcontext()
    with contextlib.redirect_stdout(buf), chain:
        cli.main(_nightly_argv(spec))
    job_s = time.time() - t0
    res = {"setup_s": setup_s, "get_spark_s": get_spark_s, "job_s": job_s,
           "cpu_s": _cpu_s() - c0, "steal_s": _steal_s() - s0}
    if tracer is not None:
        from clinvar_pipeline_spark.plans.load import read_snapshot
        from clinvar_pipeline_spark.plans.vcf import assign_rs_from_xdb
        from clinvar_pipeline_spark.sources import vcv_xml as X

        xml = spec["paths"]["xml"]
        snap = read_snapshot(spark, spec["out"])  # tonight's load output
        # each call into a noop sink; the rs assignment's jobs are kept
        # out of the vcf layer's fold, which covers the chain's own jobs
        for name, label, make in (
                ("vcv_xml.frame", None, lambda: X.read_vcv_fragments(spark, xml)),
                ("vcv_xml.parse", None, lambda: X.parse_vcv(X.read_vcv_fragments(spark, xml))),
                ("vcv_xml.extract", None, lambda: X.read_vcv_xml(spark, xml)),
                ("vcf.assign_rs", "bench.assign_rs",
                 lambda: assign_rs_from_xdb(snap.variants, snap.xdb_ids))):
            with tracer.span(name, label):
                make().write.format("noop").mode("overwrite").save()
        with tracer.span("bench.count", "bench.count"):
            res["extracted"] = X.read_vcv_xml(spark, xml).filter(
                "vcv_accession IS NOT NULL").count()
        with tracer.span("bench.tiers", "bench.tiers"):
            res["tiers"] = _tiers(spark, spec["out"], spec["paths"]["aux"])
        res["guard"] = found.get("guard")
    res["peak_rss_mb"] = _vm_hwm_mb(spark)
    if tracer is not None:
        spark.stop()
        res["spans"] = tracer.spans
    return res


def _registry_pass(spark, tracer, fns: dict, tables: str, warm: bool) -> dict:
    """One pass over the registry set. A query's output is collected
    for the digest check; one that raises is recorded and the pass
    goes on. Jobs of an untimed pass carry the label ``bench.warm``,
    which no layer claims."""
    from clinvar_pipeline_spark import caching

    secs, outputs, errors, released = {}, {}, {}, 0
    c0, s0 = _cpu_s(), _steal_s()
    t0 = time.time()
    for name, fn in fns.items():
        q0 = time.time()
        with tracer.span(f"warm.{name}" if warm else f"query.{name}",
                         "bench.warm" if warm else None):
            try:
                df = fn(spark, tables)
                outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                errors[name] = traceback.format_exc()
        secs[name] = time.time() - q0
        with tracer.span("caching.release", "caching.release"):
            released += caching.release_cached()
    return {"timed": not warm, "job_s": time.time() - t0, "cpu_s": _cpu_s() - c0,
            "steal_s": _steal_s() - s0, "queries": secs,
            "outputs": outputs, "errors": errors, "released": released}


def run_registry(spec: dict) -> dict:
    """Untimed passes warm codegen, the JIT and the shuffle path on the
    run's tables; then ``spec["timed_passes"]`` passes are timed."""
    from clinvar_pipeline_spark import queries as q
    from tools.check_correctness import norm_rows

    spark, setup_s, get_spark_s = _spark(spec)
    tracer = tr.Tracer(spark) if spec["trace"] else tr.Tracer(None)
    registry = q.queries()
    fns = {n: registry[n] for n in REGISTRY_QUERIES}
    passes = [_registry_pass(spark, tracer, fns, spec["tables"], warm=True)
              for _ in range(UNTIMED_PASSES)]
    passes += [_registry_pass(spark, tracer, fns, spec["tables"], warm=False)
               for _ in range(spec["timed_passes"])]
    peak = _vm_hwm_mb(spark)
    if spec["trace"]:  # flushes the event log; the parent kills the JVM otherwise
        spark.stop()
    for p in passes:
        p["digests"] = {n: digest(norm_rows(cols, rows)) for n, (cols, rows) in p.pop("outputs").items()}
    res = {"setup_s": setup_s, "get_spark_s": get_spark_s, "passes": passes,
           "peak_rss_mb": peak}
    if spec["trace"]:
        res["spans"] = tracer.spans
    return res


def digest(lines: list[str]) -> str:
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    try:
        res = run_nightly(spec) if spec["mode"] == "nightly" else run_registry(spec)
        res["ok"] = True
    except Exception:  # reported to the parent as a failed pass
        res = {"ok": False, "error": traceback.format_exc()}
    with open(spec["result"], "w") as f:
        json.dump(res, f, default=str)
    # skip interpreter teardown: the parent kills whatever JVM and
    # Python workers are left in this process group
    os._exit(0)


if __name__ == "__main__":
    main()
