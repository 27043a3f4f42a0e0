"""Per-stage scaling probe: where does N->4N efficiency die?

Same interleaved one-JVM protocol as scaling_bench.py, but each level
times the build's two jobs separately AND a no-write (noop-sink) variant
of each, isolating the parquet-commit / driver-barrier substrate from the
distributed compute. Usage: python tools/scaling_probe.py [n_convs] [N] [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def python_roundtrip(spark, par: int, rows_per_task: int = 2000) -> float:
    """Python-worker startup/roundtrip micro-probe: a mapInArrow job (the
    encoder's channel) whose compute is ~zero, so wall time is task
    scheduling + Arrow channel + Python worker spin-up. If THIS fails to scale N->4N, the
    residual efficiency gap lives in worker startup, not shuffle."""
    import time as _t

    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    df = spark.range(par * rows_per_task).repartition(par)

    def ident(it):
        yield from it

    t0 = _t.time()
    df.mapInArrow(ident, schema="id long").write.format("noop") \
        .mode("overwrite").save()
    return round(_t.time() - t0, 3)


def run_level(spark, par: int, n_convs: int, write: bool,
              python_encode: bool = True, shuffle: bool = True) -> dict:
    from connectors_spark.functions.analysis import tokens_col
    from connectors_spark.operators.build import assign_doc_indices, with_doc_id
    from connectors_spark.operators.index import (
        ENCODED_POSTINGS_SCHEMA, bucket_col, encode_rows,
        make_encode_arrow_partition, shard_cols,
    )
    from connectors_spark.synth import synth_transcripts
    from pyspark.sql import Observation

    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    spark.conf.set("spark.default.parallelism", str(par))
    base_dir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    path = tempfile.mkdtemp(prefix=f"probe_{par}_", dir=base_dir)
    out = {"parallelism": par, "write": write}
    try:
        t = synth_transcripts(spark, n_convs, seed=42, parallelism=par)
        base = with_doc_id(t)
        docs = base.select(
            "doc_id", "ts", F.size(tokens_col(F.col("text"))).cast("long").alias("dl")
        ).persist()
        obs = Observation(f"s_{par}_{write}_{time.time_ns()}")
        docmap = assign_doc_indices(docs, num_ranges=par).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        t0 = time.time()
        if write:
            docmap.write.mode("overwrite").parquet(f"{path}/docmap")
            docmap = spark.read.parquet(f"{path}/docmap")
        else:
            docmap.write.format("noop").mode("overwrite").save()
        out["docmap_sec"] = round(time.time() - t0, 2)
        n_docs = int(obs.get["n"]); avgdl = float(obs.get["s"]) / n_docs
        docs.unpersist()

        base_idx = base.select("doc_id", "text").join(
            docmap.select("doc_id", "doc_idx", "dl"), "doc_id")
        toks = base_idx.select(
            "doc_idx", "dl", F.explode(tokens_col(F.col("text"))).alias("term"))
        postings = toks.groupBy("term", "doc_idx").agg(
            F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")).persist()
        lexicon = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        p = (postings.join(F.broadcast(lexicon), "term")
             .select("term", "doc_idx", "tf", "dl", "df", *shard_cols(1 << 18))
             .withColumn("bucket", bucket_col("term", 64)))
        if shuffle and python_encode:
            enc = encode_rows(p, par, ["term", "shard"], avgdl, 1.2, 0.75)
        elif shuffle:
            enc = p.repartition(par, "term", "shard").sortWithinPartitions(
                "term", "shard", "doc_idx")
        elif python_encode:
            # no-shuffle variant: encode straight off the agg output
            # (emitted index is NOT valid — term runs span partitions —
            # but the compute volume matches; isolates the shuffle
            # write+read from the rest of the pipeline)
            enc = p.mapInArrow(make_encode_arrow_partition(avgdl, 1.2, 0.75),
                               schema=ENCODED_POSTINGS_SCHEMA)
        else:
            enc = p
        t0 = time.time()
        if write:
            enc.write.mode("overwrite").partitionBy("bucket").parquet(
                f"{path}/postings")
        else:
            enc.write.format("noop").mode("overwrite").save()
        out["encode_sec"] = round(time.time() - t0, 2)
        postings.unpersist()
        out["n_docs"] = n_docs
        out["total_sec"] = out["docmap_sec"] + out["encode_sec"]
        return out
    finally:
        shutil.rmtree(path, ignore_errors=True)


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from connectors_spark.session import get_spark
    extra = {"spark.ui.showConsoleProgress": "false"}
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-probe-local"
        os.makedirs(d, exist_ok=True)
        extra["spark.local.dir"] = d
    spark = get_spark("probe", master=f"local[{4 * n}]",
                      shuffle_partitions=4 * n, extra_conf=extra)
    # warmup both levels
    for par in (4 * n, n):
        run_level(spark, par, max(500, n_convs // 10), write=True)
    for i in range(rounds):
        for write, py, shuf in ((True, True, True), (False, True, True),
                                (False, False, True), (False, True, False),
                                (False, False, False)):
            a = run_level(spark, n, n_convs, write, py, shuf)
            b = run_level(spark, 4 * n, n_convs, write, py, shuf)
            eff = {
                "round": i + 1, "write": write, "python_encode": py,
                "shuffle": shuf,
                "eff_total": round((a["total_sec"] / b["total_sec"]) / 4, 3),
                "eff_docmap": round((a["docmap_sec"] / b["docmap_sec"]) / 4, 3),
                "eff_encode": round((a["encode_sec"] / b["encode_sec"]) / 4, 3),
                "N": a, "4N": b,
            }
            print(json.dumps(eff))
        pr_n = python_roundtrip(spark, n)
        pr_4n = python_roundtrip(spark, 4 * n)
        print(json.dumps({
            "round": i + 1, "probe": "python_roundtrip",
            "N_sec": pr_n, "4N_sec": pr_4n,
            "eff": round((pr_n / pr_4n) / 4, 3),
        }))


if __name__ == "__main__":
    main()
