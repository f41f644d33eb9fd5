"""Extraction benchmark: committed ``run_extraction`` jobs on ``local[nproc]``.

    python3 perfbench/run.py --workload articles_uniform --seed 1 --seconds 5 --trace 0

Run from the repository root.  One run: probe the host, materialize the
seeded corpus, extract it outside Spark as the gate's reference, set up the
program's session twice, each time in a fresh JVM (``setup_s`` is the
median), then run the workload's job in the second JVM in a closed loop
(one job at a time) until ``--seconds`` of job wall time are measured,
gate every job's committed output, and print each metric with its unit.
The last line of stdout is the JSON result.  ``--trace 1`` runs a traced
pass first and reports the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpora  # noqa: E402
import gate  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
from tracing import (  # noqa: E402
    Tracer, call_summary, durations_ms, parse_event_log, python_map_rows, quantile, scan_bytes, self_by_name,
)

N_BUCKETS = 16
SETUP_SAMPLES = 2


@dataclass(frozen=True)
class Workload:
    name: str
    prescreen: bool
    buckets_per_wave: int
    fail_bucket: int | None  # injected failure in the wave holding this bucket, then resume


WORKLOADS = {
    "articles_uniform": Workload("articles_uniform", False, N_BUCKETS, None),
    "heavy_tail": Workload("heavy_tail", False, N_BUCKETS, None),
    # 4 waves of 4 buckets; the third wave fails before its commit, then
    # the same run_id resumes
    "crawl_mix_resume": Workload("crawl_mix_resume", True, 4, 8),
}


def timing(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it, with the sample count."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    for q in (99.9, 99, 90):
        if len(values) * (1 - q / 100) >= 10:
            out[f"p{q:g}"] = quantile(values, q / 100)
            break
    return out


class Bench:
    def __init__(self, args, work: str, settings: dict):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.settings = settings
        self.sp = host.SparkProcess()
        self.opts = layers.job_options()
        self.problems: list[str] = []

    # --- the job -----------------------------------------------------------

    def run_job(self, docs, out: str, run_id: str, tracer: Tracer) -> dict:
        """The workload's job: one ``run_extraction`` call, or for the
        resume workload a call that fails mid-run plus the resume call."""
        from go_readability_spark.spark.pipeline import run_extraction

        sc = self.sp.spark.sparkContext
        wl = self.wl
        kw = dict(n_buckets=N_BUCKETS, buckets_per_wave=wl.buckets_per_wave,
                  options=self.opts, prescreen=wl.prescreen)
        walls = {}
        sc.setLocalProperty("perfbench.call", "job")
        t0 = time.perf_counter()
        if wl.fail_bucket is None:
            with tracer.span("pipeline.run_extraction", f"{wl.name}/{run_id}"):
                run_extraction(self.sp.spark, docs, out, run_id, **kw)
        else:
            with tracer.span("pipeline.run_extraction", f"{wl.name}/{run_id}"):
                try:
                    run_extraction(self.sp.spark, docs, out, run_id, fail_buckets={wl.fail_bucket}, **kw)
                    self.problems.append(f"{run_id}: injected failure did not raise")
                except RuntimeError as e:
                    if "injected failure" not in str(e):
                        raise
            t1 = time.perf_counter()
            sc.setLocalProperty("perfbench.call", "resume")
            with tracer.span("pipeline.resume", f"{wl.name}/{run_id}"):
                run_extraction(self.sp.spark, docs, out, run_id, **kw)
            walls["resume_s"] = time.perf_counter() - t1
        walls["wall_s"] = time.perf_counter() - t0
        sc.setLocalProperty("perfbench.call", None)
        return walls

    def warm_job(self, docs) -> None:
        """One untimed single-wave ``run_extraction`` of the whole corpus,
        so the traced pass compares steady-state jobs: the next job does
        not pay the JVM's first write and commit and its code generation
        and JIT at full volume."""
        from go_readability_spark.spark.pipeline import run_extraction

        out = os.path.join(self.work, "jobs", "warmup")
        run_extraction(self.sp.spark, docs, out, "warmup", n_buckets=N_BUCKETS,
                       buckets_per_wave=N_BUCKETS, options=self.opts, prescreen=self.wl.prescreen)
        shutil.rmtree(out, ignore_errors=True)

    def setup(self, corpus: str, tracer: Tracer) -> tuple[float, float]:
        """build_session, then the first extraction (``route_and_extract``
        into Spark's no-op sink) on the warm-up slice, in a fresh JVM: a
        running one is closed first, so every sample pays the JVM launch
        and the cold first query a job started from a new process pays."""
        from go_readability_spark.spark.extract import route_and_extract
        from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

        self.sp.close()
        t0 = time.perf_counter()
        with tracer.span("session.build", self.wl.name):
            spark = self.sp.start()
        t1 = time.perf_counter()
        warm = spark.read.schema(DOCUMENTS_SCHEMA).parquet(os.path.join(corpus, "warmup"))
        with tracer.span("session.warmup", self.wl.name):
            route_and_extract(warm, self.opts, prescreen=self.wl.prescreen).write.format(
                "noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def gated_job(self, docs, k: int, doc_ids, ref, tracer: Tracer, tag: str) -> dict:
        run_id = f"{self.wl.name}-{self.args.seed}-{tag}{k}"
        out = os.path.join(self.work, "jobs", f"{tag}{k}")
        shutil.rmtree(out, ignore_errors=True)
        job = self.run_job(docs, out, run_id, tracer)
        g = gate.check(out, doc_ids, run_id, N_BUCKETS, ref)
        self.problems += [f"{run_id}: {p}" for p in g.problems]
        job.update(run_id=run_id, out=out, committed=g.committed, failed_docs=g.failed_docs,
                   status=g.status_counts, digest=g.digest,
                   docs_per_s=g.committed / job["wall_s"])
        return job

    # --- untraced measurement -----------------------------------------------

    def measure(self, corpus: str, pages, ref, setup_samples: int, warm: bool = False) -> dict:
        """Set up ``setup_samples`` times, then run jobs in the last
        set-up's JVM.  Without ``warm`` the first timed job is the first
        full job of that JVM, as for a job started from a new process."""
        from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

        off = Tracer(enabled=False)
        samples = []
        for _ in range(setup_samples):
            b, w = self.setup(corpus, off)
            samples.append({"build_s": b, "warmup_s": w, "setup_s": b + w})
        docs = self.sp.spark.read.schema(DOCUMENTS_SCHEMA).parquet(os.path.join(corpus, "docs"))
        doc_ids = [p[0] for p in pages]
        jobs = []
        with host.RssSampler(self.sp.jvm_pid) as rss:
            if warm:
                self.warm_job(docs)
            while not jobs or sum(j["wall_s"] for j in jobs) < self.args.seconds:
                jobs.append(self.gated_job(docs, len(jobs), doc_ids, ref, off, "m"))
                if len(jobs) > 1:
                    shutil.rmtree(jobs[-2]["out"], ignore_errors=True)
        if len({j["digest"] for j in jobs}) != 1:
            self.problems.append("job outputs differ between repeats (digests " +
                                 ", ".join(j["digest"] for j in jobs) + ")")
        return {"setup": samples, "jobs": jobs, "rss": {
            "peak_worker_mb": rss.peak_worker_mb, "peak_total_mb": rss.peak_total_mb,
            "max_python_procs": rss.max_python_procs, "samples": rss.samples}}

    # --- traced pass ----------------------------------------------------------

    def traced(self, corpus: str, pages, ref, twin_docs_per_s: float, tracer: Tracer,
               log_dir: str) -> dict:
        """The traced pass, then the untraced jobs it is compared with.

        The JVM is launched with the event log on (``configure_spark``);
        after the traced calls it is closed, the event log is configured
        off, and the untraced jobs run in a fresh JVM.  Both halves run an
        untimed warm-up job first, so the layer shares and the tracing
        overhead are those of a steady-state job."""
        from go_readability_spark.spark.extract import extract_articles, route_and_extract
        from go_readability_spark.spark.pipeline import run_extraction
        from go_readability_spark.spark.schema import DOCUMENTS_SCHEMA

        wl = self.wl
        build_s, warm_s = self.setup(corpus, tracer)
        spark = self.sp.spark
        sc = spark.sparkContext
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(os.path.join(corpus, "docs"))
        doc_ids = [p[0] for p in pages]
        with tracer.span("pipeline.warmup", wl.name):
            self.warm_job(docs)
        job = self.gated_job(docs, 0, doc_ids, ref, tracer, "t")

        def noop(call: str, df) -> float:
            sc.setLocalProperty("perfbench.call", call)
            t0 = time.perf_counter()
            with tracer.span(f"extract.{call}", wl.name):
                df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("perfbench.call", None)
            return time.perf_counter() - t0

        scan_s = noop("scan", docs.select("doc_id", "spans"))
        route_s = noop("route", route_and_extract(docs, self.opts, prescreen=wl.prescreen))
        single_s = noop("single_path", extract_articles(docs, self.opts, prescreen=wl.prescreen))
        wave_ratio = 1.0
        if wl.buckets_per_wave < N_BUCKETS:
            walls = {}
            for name, per_wave in (("multi_wave", wl.buckets_per_wave), ("single_wave", N_BUCKETS)):
                out = os.path.join(self.work, "jobs", name)
                t0 = time.perf_counter()
                with tracer.span(f"pipeline.{name}", wl.name):
                    run_extraction(spark, docs, out, name, n_buckets=N_BUCKETS, buckets_per_wave=per_wave,
                                   options=self.opts, prescreen=wl.prescreen)
                walls[name] = time.perf_counter() - t0
                shutil.rmtree(out, ignore_errors=True)
            wave_ratio = walls["multi_wave"] / walls["single_wave"]
        lineage = gate.read_rows(os.path.join(job["out"], "lineage"))
        articles_bytes = _dir_bytes(os.path.join(job["out"], "articles"))
        self.sp.close()
        host.configure_spark(ROOT, self.work, self.settings, None)
        run = self.measure(corpus, pages, ref, 1, warm=True)
        untraced_docs_per_s = statistics.median(j["docs_per_s"] for j in run["jobs"])
        self.sp.close()
        if job["digest"] != run["jobs"][0]["digest"]:
            self.problems.append(f"traced job output differs from the untraced jobs' ({job['digest']})")

        log = parse_event_log(log_dir)
        route = call_summary(log, "route")
        job_calls = ["job", "resume"]
        docs_dir = os.path.join(corpus, "docs")
        job_bytes = sum(scan_bytes(log, c, docs_dir) for c in job_calls)
        job_jobs = sum(call_summary(log, c)["spark_jobs"] for c in job_calls)
        mega = python_map_rows(log, "route")

        nproc = int(os.environ["SPARK_GRAFT_CPUS"])
        with tracer.span("kernel.pass", wl.name):
            kstatus, kwall = layers.kernel_pass(tracer, pages, nproc, wl.prescreen, wl.name)

        spans = tracer.spans
        self_s = self_by_name(spans)
        kernel_busy = sum(self_s.get(n, 0.0) for n in ("dom", "readability", "readability.serialize", "spans.out"))
        pass_self = sum(self_s.get(n, 0.0) for n in ("kernel.doc", "readerable", "dom", "readability",
                                                    "readability.serialize", "spans.out"))
        screened = len(durations_ms(spans, "readerable"))
        waves = {}
        for r in lineage:
            if r["run_id"] == job["run_id"] and r["status"] == "done":
                waves[r["started_at"]] = r["finished_at"]
        wave_s = [(f - s).total_seconds() for s, f in waves.items()]
        wall = job["wall_s"]
        # the kernel's share of the job wall if its busy time spread evenly over the cores
        kernel_wall = (kernel_busy + self_s.get("readerable", 0.0)) / nproc
        kernel_share = kernel_wall / wall
        corpus_bytes = _dir_bytes(docs_dir)
        m = {
            "session.build_s": build_s,
            "session.warmup_s": warm_s,
            "extract.scan_s": scan_s,
            "extract.route_s": route_s,
            "extract.single_path_s": single_s,
            "extract.router_overhead_frac": route_s / single_s - 1,
            "extract.arrow_in_mb": route["arrow_in_mb"],
            "extract.arrow_out_mb": route["arrow_out_mb"],
            "extract.gc_s": route["gc_s"],
            "extract.tasks": route["python_tasks"],
            "extract.task_s_p50": route["task_s_p50"],
            "extract.task_s_max": route["task_s_max"],
            "extract.straggler_ratio": route["straggler_ratio"],
            "extract.mega_rows": mega["shuffled"],
            "extract.spark_fraction": untraced_docs_per_s / twin_docs_per_s,
            "twin.docs_per_s": twin_docs_per_s,
            "dom.busy_s": self_s.get("dom", 0.0),
            "dom.doc_ms_p50": quantile(durations_ms(spans, "dom"), 0.5),
            "dom.doc_ms_p99": quantile(durations_ms(spans, "dom"), 0.99),
            "dom.doc_ms_max": max(durations_ms(spans, "dom"), default=0.0),
            "readability.busy_s": self_s.get("readability", 0.0),
            "readability.serialize_s": self_s.get("readability.serialize", 0.0),
            "readability.doc_ms_p50": quantile(durations_ms(spans, "readability"), 0.5),
            "readability.doc_ms_p99": quantile(durations_ms(spans, "readability"), 0.99),
            **{f"readability.status.{s}": kstatus.get(s, 0) for s in ("ok", "no_article", "too_large", "parse_error")},
            "readerable.busy_s": self_s.get("readerable", 0.0),
            "readerable.doc_ms_p99": quantile(durations_ms(spans, "readerable"), 0.99),
            "readerable.reject_ratio": kstatus.get("not_readerable", 0) / screened if screened else 0.0,
            "spans.out_busy_s": self_s.get("spans.out", 0.0),
            "spans.out_doc_ms_p99": quantile(durations_ms(spans, "spans.out"), 0.99),
            "kernel.self_share": kernel_busy / pass_self if pass_self else 0.0,
            "kernel.job_share": kernel_share,
            "extract.tax_share": (route_s - kernel_wall) / wall,
            "pipeline.overhead_s": wall - route_s,
            "pipeline.overhead_frac": (wall - route_s) / wall,
            "pipeline.waves": len(waves),
            "pipeline.wave_s_p50": statistics.median(wave_s) if wave_s else 0.0,
            "pipeline.wave_s_max": max(wave_s, default=0.0),
            "pipeline.read_amplification": job_bytes / corpus_bytes,
            "pipeline.spark_jobs": job_jobs,
            "pipeline.articles_mb": articles_bytes / 1e6,
            "pipeline.resume_s": job.get("resume_s", 0.0),
            "pipeline.wave_overhead_ratio": wave_ratio,
            "error_rate": job["failed_docs"] / len(doc_ids),
            "trace.docs_per_s": job["docs_per_s"],
            "trace.overhead_frac": 1 - job["docs_per_s"] / untraced_docs_per_s,
        }
        detail = {
            "job": {k: v for k, v in job.items() if k != "out"},
            "kernel_pass_wall_s": kwall,
            "kernel_status": kstatus,
            "self_s_by_span": self_s,
            "event_log": {c: call_summary(log, c) for c in ("job", "resume", "scan", "route", "single_path")},
            "event_log_apps": sorted(os.listdir(log_dir)),
            "mega_branch_rows": mega,
            "timings_ms": {n: timing(durations_ms(spans, n)) for n in
                           ("readerable", "dom", "readability", "readability.serialize", "spans.out")},
        }
        tracer.write(os.path.join(self.work, "spans.json"))
        return {"metrics": m, "detail": detail, "run": run}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import go_readability_spark.spark.pipeline  # noqa: F401  (fail fast without the program)
    import pyspark  # noqa: F401

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    shape = host.host_shape()
    settings = host.spark_settings(shape["ram_gb"], shape["vcpus"])
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    host.configure_spark(ROOT, work, settings, log_dir)

    t0 = time.perf_counter()
    probes_before = host.probes()
    corpus = corpora.materialize(args.workload, args.seed, os.path.join(state, "corpora"))
    with open(os.path.join(corpus, "shape.json")) as f:
        corpus_shape = json.load(f)
    pages = corpora.read_pages(corpus)
    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("twin.pool", args.workload):
        rows, twin_docs_per_s = layers.twin(pages, shape["vcpus"], WORKLOADS[args.workload].prescreen)
    ref = gate.Reference(rows)

    bench = Bench(args, work, settings)
    traced = None
    try:
        if args.trace:
            traced = bench.traced(corpus, pages, ref, twin_docs_per_s, tracer, log_dir)
            run = traced["run"]
        else:
            run = bench.measure(corpus, pages, ref, SETUP_SAMPLES)
    finally:
        bench.sp.close()
        # the pools' semaphore tracker outlives them; stop it so no process
        # of this run is left behind
        resource_tracker._resource_tracker._stop()
        host.wait_children(60)
    probes_after = host.probes()

    jobs = run["jobs"]
    e2e = {
        "docs_per_s": (statistics.median(j["docs_per_s"] for j in jobs), "docs/s"),
        "setup_s": (statistics.median(s["setup_s"] for s in run["setup"]), "s"),
        "peak_worker_rss_mb": (run["rss"]["peak_worker_mb"], "MB"),
        "peak_rss_mb": (run["rss"]["peak_total_mb"], "MB"),
    }
    attempted = len(pages) * len(jobs)
    failed = sum(j["failed_docs"] for j in jobs)
    correct = not bench.problems
    if args.trace:
        units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
        metrics = {u["name"]: {"value": traced["metrics"][u["name"]], "unit": u["unit"]} for u in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": shape, "settings": settings, "probes_before": probes_before, "probes_after": probes_after,
        "corpus": corpus_shape, "setup_samples": run["setup"],
        "jobs": [{k: v for k, v in j.items() if k != "out"} for j in jobs],
        "job_wall_s": timing([j["wall_s"] for j in jobs]),
        "rss": run["rss"], "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "problems": bench.problems, "run_s": time.perf_counter() - t0,
    }
    if traced:
        artifact.update(per_layer=traced["metrics"], trace_detail=traced["detail"])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if traced:
        os.replace(os.path.join(work, "spans.json"), os.path.join(results, name + "-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} host={shape} settings={settings}")
    print(f"# probes before={probes_before} after={probes_after} corpus docs={corpus_shape['docs']}"
          f" jobs={len(jobs)} artifact=.perfbench/results/{name}.json")
    for p in bench.problems:
        print(f"# GATE FAILED: {p}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
