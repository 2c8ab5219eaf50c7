"""Scale rehearsal for the training-data funnel (VERDICT r4 #7).

Runs corpus_curation_pipeline + the dedup family over SYNTHESIZED documents
tables at two scales (default 2M and 20M rows — 10x apart, the larger past
the 20M bar the parse pipeline already cleared) and records wall time plus
shuffle read/write bytes per query, proving the linear-shuffle claims at a
scale where a hidden quadratic would show.

The documents are generated with pure column expressions (no driver loop):
~40-120 words drawn from a fixed vocabulary by hash, 20% of doc_ids share a
text seed so exact/near-dup joins have real work, zipf-ish source mix.

Usage: python tools/bench_funnel_scale.py [rows ...]   (default: 2000000 20000000)
Writes .bench_state/funnel_scale.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# registry entries benchmarked at scale; the dedup queries run the same
# xxhash64 gram path every caller runs
QUERIES = [
    "corpus_curation_pipeline", "dedup_exact", "dsir_importance_weights",
    "dedup_minhash_lsh", "dedup_simhash",
]

_WORDS = (
    "the of and to in is was for on that with as his they at be this from have "
    "or by one had not but what all were when we there can an your which their "
    "said if do will each about how up out them then she many some so these "
    "would other into has more her two like him see time could no make than "
    "first been its who now people my made over did down only way find use may "
    "water long little very after words called just where most know get through "
    "back much before go good new write our used me man too any day same right "
    "look think also around another came come work three word must because does "
    "part even place well such here take why things help put years different "
    "away again off went old number great tell men say small every found still "
    "between name should home big give air line set own under read last never "
    "us left end along while might next sound below saw something thought both "
    "few those always looked show large often together asked house world going "
    "want school important until form food keep children feet land side without "
    "boy once animals life enough took sometimes four head above kind began "
    "almost live page got earth need far hand high year mother light parts "
    "country father let night following picture being study second eyes soon "
    "times story boys since white days ever paper hard near sentence better "
    "best across during today others however sure means knew its told young sun "
    "thing whole hear example heard several change answer room against top "
    "turned learn point city play toward five using himself usually money seen "
    "didn't car morning I'm body upon family later turn move face door cut done "
    "group true half red fish plants living black eat short United States run "
).split()


def make_documents(spark, n_rows: int, path: str) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(path):
        return
    words = F.array(*[F.lit(w) for w in _WORDS])
    df = spark.range(n_rows, numPartitions=max(32, n_rows // 250_000)).select(
        F.col("id").alias("doc_id")
    )
    # 20% of doc_ids duplicate the text of the preceding multiple-of-10 id
    seed = F.when(F.col("doc_id") % 10 < 2, F.col("doc_id") - F.col("doc_id") % 10).otherwise(
        F.col("doc_id")
    )
    n_words = 40 + F.pmod(F.xxhash64(seed), F.lit(81))
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                words, (F.pmod(F.xxhash64(seed * 131 + i), F.lit(len(_WORDS))) + 1).cast("int")
            ),
        ),
    )
    df = df.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("zh"), F.lit("de")),
            (F.pmod(F.xxhash64(F.col("doc_id") + 7), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("src"),
            # zipf-ish: half the mass on src0/src1
            F.when(F.pmod(F.col("doc_id"), F.lit(4)) < 2, F.pmod(F.col("doc_id"), F.lit(2)))
            .otherwise(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8)))
            .cast("string"),
        ).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    df.write.mode("overwrite").parquet(path)


def shuffle_totals(ui_url: str, app_id: str) -> tuple[int, int]:
    # ui_url comes from sc.uiWebUrl (4040 may be taken by another app —
    # Spark auto-binds 4041+). A dead REST API must FAIL the run, not
    # silently record 0-byte shuffles that read as fabricated evidence.
    url = f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
    )


def main() -> None:
    scales = [int(x) for x in sys.argv[1:]] or [2_000_000, 20_000_000]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from loongcollector_spark.functions import dedup
    from loongcollector_spark.queries import QUERIES as REGISTRY
    from loongcollector_spark.session import get_spark

    spark = get_spark(
        app_name="funnel-scale",
        master=f"local[{cpus}]",
        shuffle_partitions=str(int(cpus) * 4),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    ui_url = spark.sparkContext.uiWebUrl
    if not ui_url:
        raise RuntimeError("Spark UI is not running — shuffle evidence unavailable")

    out: dict = {"cpus": int(cpus), "load_avg_start": round(os.getloadavg()[0], 2), "scales": {}}
    for n in scales:
        sf_dir = f"/tmp/lc_funnel_{n}"
        make_documents(spark, n, os.path.join(sf_dir, "documents.parquet"))
        per_q = {}
        for name in QUERIES:
            fn = REGISTRY[name].spark
            r0, w0 = shuffle_totals(ui_url, app_id)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 1)
            dedup.release_persisted()
            r1, w1 = shuffle_totals(ui_url, app_id)
            per_q[name] = {
                "wall_sec": wall,
                "rows_per_sec": round(n / wall, 1),
                "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
                "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
                "load_avg": round(os.getloadavg()[0], 2),
            }
            print(f"[{n}] {name}: {per_q[name]}", flush=True)
        out["scales"][str(n)] = per_q

    if len(scales) == 2:
        lo, hi = (str(s) for s in scales)
        ratio = scales[1] / scales[0]
        out["linear_ratios"] = {
            q: {
                "wall_x": round(out["scales"][hi][q]["wall_sec"] / max(out["scales"][lo][q]["wall_sec"], 0.1), 2),
                "shuffle_write_x": round(
                    out["scales"][hi][q]["shuffle_write_mb"] / max(out["scales"][lo][q]["shuffle_write_mb"], 0.1), 2
                ),
                "scale_x": ratio,
            }
            for q in out["scales"][hi]
        }
    os.makedirs(".bench_state", exist_ok=True)
    with open(".bench_state/funnel_scale.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
