"""The repo benchmark: seeded inputs, closed-loop passes, DuckDB-checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload crawl_distinct --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout.  One benchmark process starts Spark on
``local[<cpus>]`` and runs one pass at a time until ``--seconds`` have
passed.  ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json
(medians over passes), ``--trace 1`` prints its per-layer metrics.  All
files, the program's TMPDIR included, live in a work dir under the
checkout that is removed on exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_distinct", "crawl_mirror")
#: in-JVM re-set-ups that setup_s is the median of, run before and after
#: the passes so they sample the start and the end of the run; the set-up
#: that launches the JVM comes first and is not among them
SETUPS_BEFORE, SETUPS_AFTER = 2, 2
MIN_PASSES = 3
#: untimed passes first: pass times fall for the first ~8 s of passes in
#: a JVM (plan compilation, JIT, Python-worker memory growth), then hold
WARM_SECONDS = 8
CPUS = len(os.sched_getaffinity(0))
HEAP = "1g"

#: fields and span selector of each workload's extract call
EXTRACT = {
    "crawl_distinct": (None, "a[href]"),
    "crawl_mirror": (["url", "main_text", "spans"], "a[href]"),
}
#: layers the traced passes call into; each gets ledger.<layer>.self_s
LEDGER = ("operators.extract", "operators.pdfextract", "operators.nodes")


def session(work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                # a heap that is resident from the start: the passes then
                # pay no page faults for heap growth, and RSS is steady
                f"-Xms{HEAP} -XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _warm_kernel(batches):
    import pandas as pd

    import perl_html5_dom_spark.operators.extract  # noqa: F401
    import perl_html5_dom_spark.operators.pdfextract  # noqa: F401

    for b in batches:
        yield pd.DataFrame({"n": [len(b)]})


def _identity(batches):
    yield from batches


def _serialize(batches):
    import pandas as pd

    from perl_html5_dom_spark.dom.serializer import serialize
    from perl_html5_dom_spark.operators.extract import parse_document

    for b in batches:
        docs = [parse_document(bytes(h)) for h in b["html"]]
        yield pd.DataFrame({"url": b["url"],
                            "html_out": [serialize(d, d.root) for d in docs]})


class Bench:
    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.spark = self.info = self.inp = None
        self.n_out = 0

    # -- set-up ----------------------------------------------------------

    def setup(self, k: int) -> float:
        """Session start + input generation + Python-worker warm-up."""
        import gen

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session(self.work)
        self.inp = os.path.join(self.work, f"in{k}")
        self.info = gen.build(self.workload, self.seed, self.inp)
        self.spark.range(0, CPUS, 1, CPUS).mapInPandas(
            _warm_kernel, "n long").count()
        return time.perf_counter() - t0

    # -- passes ----------------------------------------------------------

    def _out(self) -> dict[str, str]:
        self.n_out += 1
        base = os.path.join(self.work, "out", str(self.n_out))
        return {k: os.path.join(base, k) for k in ("text", "pdf", "nodes")}

    def _html(self):
        return self.spark.read.parquet(os.path.join(self.inp, "html"))

    def run_pass(self, tracer=None) -> dict[str, str]:
        """One pass of the workload; returns its output dirs.  With a
        tracer, every call into a layer is a span."""
        from contextlib import nullcontext

        from perl_html5_dom_spark.operators import extract, nodes, pdfextract

        span = tracer.span if tracer else (lambda name: nullcontext())
        out = self._out()
        fields, sel = EXTRACT[self.workload]
        if fields is None:
            fields = list(extract.ALL_FIELDS) + ["err"]
        with span("operators.extract"):
            extract.extract_pages(self._html(), span_selector=sel,
                                  fields=fields).write.parquet(out["text"])
        if self.workload == "crawl_distinct":
            with span("operators.pdfextract"):
                pdfextract.extract_pdfs(self.spark.read.parquet(
                    os.path.join(self.inp, "pdf"))).write.parquet(out["pdf"])
        else:
            with span("operators.nodes"):
                nodes.nodes_df(self._html(), elements_only=True,
                               columns=["url", "node_id", "parent_id", "tag"]
                               ).write.parquet(out["nodes"])
        return out

    def webtext_query(self, tracer) -> dict:
        """q_webtext_pipeline itself, as the program composes it, over
        ``gen.WEBTEXT_DOCS`` documents, written to parquet.  Returns its
        wall time, the bytes it leaves in TMPDIR and the output dir."""
        from perl_html5_dom_spark.queries import q_webtext_pipeline

        from measure import dir_mb

        out, tmp = self._out(), os.environ["TMPDIR"]
        tmp0 = dir_mb(tmp)
        with tracer.span("queries.webtext_pipeline"):
            q_webtext_pipeline(self.spark, os.path.join(
                self.inp, "webtext")).write.parquet(out["text"])
        took = tracer.spans[-1]["end"] - tracer.spans[-1]["start"]
        return {"out": out, "metrics": {
            "queries.webtext_pipeline.pass_s": took,
            # the checkpoint dirs the query never removes
            "util.tmp_leak_mb": dir_mb(tmp) - tmp0,
        }}

    def webtext_staged(self, tracer) -> dict:
        """q_webtext_pipeline's stages, copied here by hand and run one at
        a time over ``gen.WEBTEXT_DOCS`` documents, each over the
        materialized output of the one before (parquet in the work dir),
        so each stage is a span of its own.  ``webtext_query`` runs the
        query itself.  Returns the stage metrics and the output dir."""
        from perl_html5_dom_spark import util
        from perl_html5_dom_spark.operators import dedup, extract, packing
        from perl_html5_dom_spark.operators import textstats
        from perl_html5_dom_spark.sources.pages import pages_df

        from measure import dir_mb

        span, out = tracer.span, self._out()
        spark, base = self.spark, os.path.dirname(out["text"])
        docs_dir = os.path.join(self.inp, "webtext")
        tmp = os.environ["TMPDIR"]

        def stage(name, df):
            path = os.path.join(base, name)
            df.write.parquet(path)
            return spark.read.parquet(path)

        with span("webtext.extract"):
            ext = extract.extract_pages(pages_df(spark, docs_dir),
                                        span_selector=None,
                                        fields=["url", "main_text"])
            # the pipeline's duplicate fan-out, as in q_webtext_pipeline
            corpus = stage("corpus", ext.selectExpr(
                "cast(substring_index(url, '/', -1) as bigint) as doc_id",
                "main_text as text").selectExpr(
                "explode(filter(array("
                " named_struct('doc_id', doc_id, 'text', text),"
                " if(doc_id % 5 = 0, named_struct("
                "   'doc_id', doc_id + 100000, 'text', text), null),"
                " if(doc_id % 3 = 0, named_struct("
                "   'doc_id', doc_id + 200000, 'text', text || ' zz yy xx'),"
                "   null)), x -> x is not null)) as r"
            ).select("r.doc_id", "r.text"))
        before = set(os.listdir(tmp))
        with span("webtext.quality"):
            kept = util.checkpoint_parquet(
                textstats.quality_scores(corpus, carry=("text",))
                .where("quality >= 0.75").select("doc_id", "text"),
                "webtext_kept")
        checkpoint_mb = sum(dir_mb(os.path.join(tmp, d))
                            for d in set(os.listdir(tmp)) - before)
        with span("webtext.minhash"):
            pairs = stage("pairs", dedup.minhash_near_dups(
                kept, threshold=0.5, collapse_exact=False))
        with span("webtext.cc"):
            losers = stage("losers", dedup.connected_components(pairs)
                           .where("node != comp").selectExpr("node as doc_id"))
        with span("webtext.split"):
            final = stage("final", textstats.corpus_split(
                kept.join(losers, "doc_id", "left_anti"), carry=("text",))
                .where("split = 'train'").select("doc_id", "text"))
        with span("webtext.pack"):
            packing.pack_offsets(final, max_tokens=256,
                                 buckets=8).write.parquet(out["text"])
        took = {s["name"]: s["end"] - s["start"] for s in tracer.spans
                if s["name"].startswith("webtext.")}
        return {"out": out, "metrics": {
            "operators.textstats.quality_s": took["webtext.quality"],
            "operators.dedup.minhash_s": took["webtext.minhash"],
            "operators.dedup.cc_s": took["webtext.cc"],
            "operators.packing.pack_s": took["webtext.pack"],
            "operators.dedup.pairs": pairs.count(),
            "util.checkpoint_mb": checkpoint_mb,
        }}

    def timed_pass(self) -> dict:
        from measure import PeakRss, tree_cpu_s

        cpu0 = tree_cpu_s()
        with PeakRss() as rss:
            t0 = time.perf_counter()
            out = self.run_pass()
            wall = time.perf_counter() - t0
        return {"out": out, "wall": wall, "cpu": tree_cpu_s() - cpu0,
                "rss": rss.peak}

    # -- checks ----------------------------------------------------------

    def check(self, outs: list[dict]) -> tuple[int, int]:
        """(rows attempted, rows failed) over the pass outputs ``outs``,
        plus the serialization twins of the messy and hostile shapes."""
        import check

        rows = self.info["rows"]
        expect = check.expected(self.workload, self.info)
        failed = sum(check.failures(self.workload, expect, out, rows)
                     for out in outs)
        attempted = rows * len(outs)
        if self.workload == "crawl_distinct":
            import pyarrow.parquet as pq

            path = os.path.join(self.work, "serialized")
            self._html().mapInPandas(
                _serialize, "url string, html_out string").write.parquet(path)
            n, bad = check.serialize_failures(expect["html"],
                                              pq.read_table(path))
            attempted, failed = attempted + n, failed + bad
        return attempted, failed

    # -- runs ------------------------------------------------------------

    def warm_up(self) -> list[dict]:
        """Untimed passes for ``WARM_SECONDS``; their outputs are still
        checked."""
        warm, t_end = [], time.perf_counter() + WARM_SECONDS
        while not warm or time.perf_counter() < t_end:
            warm.append(self.timed_pass())
        log(f"warm-up passes {[round(p['wall'], 3) for p in warm]}")
        return warm

    def measure(self, seconds: float) -> dict:
        launch = self.setup(0)
        setups = [self.setup(k) for k in range(1, 1 + SETUPS_BEFORE)]
        warm = self.warm_up()
        passes, t_end = [], time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            passes.append(self.timed_pass())
        log(f"passes {[round(p['wall'], 3) for p in passes]}")
        attempted, failed = self.check([p["out"] for p in warm + passes])
        log(f"checked: {failed} of {attempted} rows failed")
        setups += [self.setup(k) for k in range(
            1 + SETUPS_BEFORE, 1 + SETUPS_BEFORE + SETUPS_AFTER)]
        log(f"setups {round(launch, 3)} (JVM launch), "
            f"{[round(s, 3) for s in setups]}")
        rows = self.info["rows"]
        med = statistics.median
        metrics = {
            "setup_s": med(setups),
            "docs_per_s": med(rows / p["wall"] for p in passes),
            "cpu_s_per_kdoc": med(p["cpu"] / rows * 1e3 for p in passes),
            "peak_rss_mb": med(p["rss"] for p in passes),
        }
        return {"attempted": attempted, "failed": failed, "metrics": metrics}

    def traced(self, trace_path: str) -> dict:
        import duckdb

        import check
        import kernels
        from measure import SparkStatus, Tracer

        self.setup(0)
        spark, rows = self.spark, self.info["rows"]
        status = SparkStatus(spark.sparkContext)
        warm = self.warm_up()
        mark = status.settled()
        plain = self.timed_pass()
        m = status.since(mark)

        # alternate traced and untraced passes for the tracing overhead
        tracer, walls, plain_walls = Tracer(), [], [plain["wall"]]
        outs = [p["out"] for p in warm + [plain]]
        for k in range(2):
            t0 = time.perf_counter()
            with tracer.span("pass"):
                traced = self.run_pass(tracer)
            walls.append(time.perf_counter() - t0)
            outs.append(traced)
            if k == 0:
                between = self.timed_pass()
                plain_walls.append(between["wall"])
                outs.append(between["out"])
        root = [s["id"] for s in tracer.spans if s["name"] == "pass"][-1]
        own = tracer.self_times(root)
        for layer in LEDGER:
            m[f"ledger.{layer}.self_s"] = own.get(layer, 0.0)
        m["ledger.unattributed_s"] = own["pass"]
        m["ledger.attributed_share"] = 1.0 - own["pass"] / walls[-1]
        plain_wall = statistics.median(plain_walls)
        m["ledger.tracing_overhead"] = statistics.median(walls) / plain_wall - 1
        m["operators.nodes.pass_s"] = own.get("operators.nodes", 0.0)
        con = duckdb.connect()
        m["operators.nodes.rows_per_doc"] = con.execute(
            f"select count(*) from read_parquet('{traced['nodes']}/*.parquet')"
        ).fetchone()[0] / rows if self.workload == "crawl_mirror" else 0.0

        # the Arrow crossing alone: an identity mapInPandas over the input
        inputs = [self._html().select("url", "html")]
        if self.workload == "crawl_distinct":
            inputs.append(spark.read.parquet(
                os.path.join(self.inp, "pdf")).select("url", "pdf"))
        trips = []
        for _ in range(3):
            with tracer.span("arrow"):
                for df in inputs:
                    df.mapInPandas(_identity, df.schema).write.format(
                        "noop").mode("overwrite").save()
            trips.append(tracer.spans[-1]["end"] - tracer.spans[-1]["start"])
        m["arrow.roundtrip_s"] = statistics.median(trips)
        m["arrow.share"] = m["arrow.roundtrip_s"] / plain_wall

        # per-document kernel layers on a sample of the same inputs
        html_rel = f"read_parquet('{self.inp}/html/*.parquet')"
        m["operators.extract.distinct_share"] = con.execute(
            f"select count(distinct html) / count(*) from {html_rel}"
        ).fetchone()[0]
        sample = list(dict.fromkeys(r[0] for r in con.execute(
            f"select html from {html_rel} limit 4000").fetchall()))[:400]
        pdf = []
        if self.workload == "crawl_distinct":
            pdf = [r[0] for r in con.execute(
                f"select pdf from read_parquet('{self.inp}/pdf/*.parquet') "
                f"limit 40").fetchall()]
        con.close()
        fields, sel = EXTRACT[self.workload]
        from perl_html5_dom_spark.operators.extract import ALL_FIELDS
        k = kernels.probe(tracer, sample, pdf,
                          tuple(f for f in fields or ALL_FIELDS if f != "url"),
                          sel)
        m["spark.parallel_eff"] = (rows / plain_wall
                                   / (CPUS * k.pop("kernel_docs_per_s")))
        m.update(k)

        attempted, failed = self.check(outs)
        # the curation chain's layers, measured once on the distinct corpus
        wt = {"operators.textstats.quality_s": 0.0,
              "operators.dedup.minhash_s": 0.0, "operators.dedup.cc_s": 0.0,
              "operators.packing.pack_s": 0.0, "operators.dedup.pairs": 0,
              "util.checkpoint_mb": 0.0, "util.tmp_leak_mb": 0.0,
              "queries.webtext_pipeline.pass_s": 0.0}
        if self.workload == "crawl_distinct":
            docs = self.info["webtext_docs"]
            expect = check.expected("webtext", {"docs": docs})
            staged = self.webtext_staged(tracer)
            query = self.webtext_query(tracer)
            wt = {**staged["metrics"], **query["metrics"]}
            for out in (staged["out"], query["out"]):
                failed += check.failures("webtext", expect, out,
                                         docs.num_rows)
                attempted += docs.num_rows
        m.update(wt)
        m["gate.failed_share"] = failed / attempted
        tracer.dump(trace_path)
        return {"attempted": attempted, "failed": failed, "metrics": m}

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        from measure import descendants

        deadline = time.time() + 60
        while descendants() and time.time() < deadline:
            time.sleep(0.1)


def emit(result: dict, section: str) -> dict:
    """The result line: exactly BENCHMARK.json's metrics of ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    got = result["metrics"]
    names = [s["name"] for s in spec]
    missing = [n for n in names if n not in got]
    extra = [n for n in got if n not in names]
    if missing or extra:
        raise SystemExit(f"metric set differs from BENCHMARK.json: "
                         f"missing {missing}, extra {extra}")
    return {"correct": result["failed"] == 0,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {s["name"]: {"value": float(got[s["name"]]),
                                    "unit": s["unit"]} for s in spec}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import perl_html5_dom_spark
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not perl_html5_dom_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the program imported from "
              f"{perl_html5_dom_spark.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    # the program's temp files (checkpoints, Spark's java.io.tmpdir) go
    # to a dir this run owns; whatever is left there is removed below
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    bench = Bench(args.workload, args.seed, work)
    try:
        if args.trace:
            traces = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            result = emit(bench.traced(os.path.join(
                traces, f"{args.workload}-{args.seed}.json")), "per_layer")
        else:
            result = emit(bench.measure(args.seconds), "end_to_end")
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
