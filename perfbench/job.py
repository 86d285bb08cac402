"""The Spark side of one benchmark run, started in a fresh process by
``run.py``: ``python3 perfbench/job.py <spec.json>``.

It sets up the session (``setup_s``), then repeats the workload's job
until ``seconds`` have passed, each repetition writing to its own output
directory, and writes the timings to ``spec["result"]``. It never checks
outputs: ``run.py`` does that after this process has ended, untimed.
"""

from __future__ import annotations

import importlib
import json
import sys
import time

import pandas as pd

from tracing import Tracer

# scripts/extract_job.py defaults
BUCKETS = WAVE_SIZE = SALT = 16
PACKAGE = "accelerated_intelligent_document_processing_on_aws_spark"
# imported by every Python worker during set-up: the modules the workloads'
# UDFs need, so that no timed task pays a first import
WARM_MODULES = ("kernel.sighash", "operators.dedup", "operators.extract")


def commit(df, path: str) -> None:
    """The timed action: write every output column to parquet. A bare
    ``count()`` would let Catalyst prune UDF and expression columns."""
    df.write.mode("overwrite").parquet(path)


def first_action(spark, path: str, cores: int) -> None:
    """Spawn one Python worker per core with a UDF-only projection written
    through :func:`commit`, and fail if the UDF did not see every row: the
    self-test that a timed action never skips a UDF column."""
    from pyspark.sql.functions import pandas_udf

    seen = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def probe(v: pd.Series) -> pd.Series:
        for m in WARM_MODULES:
            importlib.import_module(f"{PACKAGE}.{m}")
        seen.add(len(v))
        return v * 2

    n = 1000 * cores
    commit(spark.range(0, n, numPartitions=cores).select(probe("id").alias("x")), path)
    if seen.value != n:
        raise SystemExit(
            f"self-test failed: the timed action ran the UDF on {seen.value} of {n} rows"
        )


def extract_job_rep(spark, spec: dict, out: str, tracer: Tracer) -> None:
    from accelerated_intelligent_document_processing_on_aws_spark.operators import (
        segmentation,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.sources.checkpoint import (
        run_checkpointed_extraction,
    )

    transcripts = spark.read.parquet(spec["input"])
    kw = dict(n_buckets=BUCKETS, wave_size=WAVE_SIZE, salt=SALT)
    with tracer.span("checkpoint.run"):
        run_checkpointed_extraction(spark, transcripts, out, **kw)
    with tracer.span("sections"):
        with tracer.span("build:sections"):
            sections = segmentation.sections(spark.read.parquet(out + "/extracted"))
        commit(sections, out + "/sections")
    with tracer.span("checkpoint.resume_noop"):
        run_checkpointed_extraction(spark, transcripts, out, **kw)


def leakage_gate(docs):
    """bench.py's fourth chain stage: content hashes that occur in more
    than one of the train/valid/test splits (split by doc_id hash)."""
    from pyspark.sql import functions as F

    split = F.conv(F.substring(F.md5(F.col("doc_id")), 1, 4), 16, 10).cast("bigint") % 10
    return (
        docs.select(
            F.md5(F.col("text")).alias("content_hash"),
            F.when(split < 8, "train").when(split < 9, "valid").otherwise("test").alias("split"),
        )
        .groupBy("content_hash")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
    )


def curation_chain_rep(spark, spec: dict, out: str, tracer: Tracer) -> None:
    from accelerated_intelligent_document_processing_on_aws_spark.operators import dedup

    docs = spark.read.parquet(spec["input"])
    with tracer.span("chain.lsh_pairs"):
        with tracer.span("build:lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(docs)
        commit(pairs, out + "/pairs")
    pairs = spark.read.parquet(out + "/pairs")
    with tracer.span("chain.clusters"):
        with tracer.span("build:clusters"):
            clusters = dedup.duplicate_clusters(pairs)
        commit(clusters, out + "/clusters")
    with tracer.span("chain.keep"):
        with tracer.span("build:keep"):
            kept = dedup.dedup_keep_representative(docs, pairs)
        commit(kept, out + "/kept")
    with tracer.span("chain.leakage"):
        with tracer.span("build:leakage"):
            leaky = leakage_gate(docs)
        commit(leaky, out + "/leaky")


REPS = {
    "extract_job": extract_job_rep,
    "curation_chain": curation_chain_rep,
}


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    work = spec["work"]
    cores = spec["cores"]
    extra = {
        "spark.driver.memory": spec["heap"],
        # pinned heap: peak_rss_mb must not follow the JVM's heap growth policy
        "spark.driver.extraJavaOptions": (
            f"-Xms{spec['heap']} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": f"{work}/spark-local",
    }
    if spec["trace"]:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    tracer = Tracer(enabled=spec["trace"], trace_id=f"{spec['workload']}-{spec['seed']}")

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (
            get_spark,
        )

        spark = get_spark(
            app_name=f"perfbench-{spec['workload']}",
            master=f"local[{cores}]",
            shuffle_partitions=4 * cores,
            extra_conf=extra,
        )
        spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    with tracer.span("session.worker_warm"):
        first_action(spark, f"{work}/out/first_action", cores)
    setup_s = time.perf_counter() - t0

    rep_fn = REPS[spec["workload"]]
    reps = []
    start = time.perf_counter()
    while True:
        out = f"{work}/out/rep{len(reps)}"
        with tracer.span(f"rep{len(reps)}"):
            t = time.perf_counter()
            rep_fn(spark, spec, out, tracer)
            wall = time.perf_counter() - t
        reps.append({"out": out, "wall_s": wall})
        if time.perf_counter() - start >= spec["seconds"]:
            break
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump({"setup_s": setup_s, "reps": reps, "spans": tracer.spans}, f)


if __name__ == "__main__":
    main(sys.argv[1])
