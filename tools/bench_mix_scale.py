"""Scale rehearsal for the session-12 mixing/decontamination ops.

Runs temperature_sample_mix, source_cap_rank_gate, quality_classifier_gate
and bloom_contamination_flags (the gram-heaviest of the four) at two scales
(default 2M and 20M rows) over the same synthesized documents corpus the
funnel rehearsal uses, recording wall time plus shuffle read/write bytes —
proving at 10x apart that
- the three gate ops exchange only their bounded histograms/rate tables
  (shuffle bytes should NOT grow ~10x, the key spaces are fixed), and
- bloom decontamination's corpus side exchanges nothing at all (its only
  shuffle is the <= 2^18-row distinct of the benchmark bitset build).

Measurement doctrine (same as bench_bpe_scale): each headline ``wall_sec``
is the MIN of N warm runs (N = ``LC_BENCH_QUERY_RUNS``, default 3) after an
unrecorded warm-up execution; every raw sample, the median, and the per-
measurement 1-min load average ride along in the JSON. This host's neighbor
noise swings identical jobs 10x, so single samples are not measurements;
shuffle bytes (averaged over the N runs) are the deterministic signal.

Usage: python tools/bench_mix_scale.py [rows ...]   (default: 2000000 20000000)
Writes .bench_state/mix_scale.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_funnel_scale import make_documents, shuffle_totals  # noqa: E402

QUERIES = [
    "temperature_sample_mix",
    "source_cap_rank_gate",
    "quality_classifier_gate",
    "bloom_contamination_flags",
]


def main() -> None:
    scales = [int(x) for x in sys.argv[1:]] or [2_000_000, 20_000_000]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from loongcollector_spark.functions import dedup
    from loongcollector_spark.queries import QUERIES as REGISTRY
    from loongcollector_spark.session import get_spark

    spark = get_spark(
        app_name="mix-scale",
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

    n_runs = int(os.environ.get("LC_BENCH_QUERY_RUNS") or 3)
    out: dict = {
        "cpus": int(cpus),
        "n_runs": n_runs,
        "load_avg_start": round(os.getloadavg()[0], 2),
        "scales": {},
    }
    for n in scales:
        sf_dir = f"/tmp/lc_funnel_{n}"
        make_documents(spark, n, os.path.join(sf_dir, "documents.parquet"))
        per_q = {}
        for name in QUERIES:
            fn = REGISTRY[name].spark
            # Unrecorded warm-up: JVM codegen + Arrow python-worker spin-up
            # (and the OS page cache for the parquet scan).
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dedup.release_persisted()
            r0, w0 = shuffle_totals(ui_url, app_id)
            runs, loads = [], []
            for _ in range(n_runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.time() - t0, 1))
                loads.append(round(os.getloadavg()[0], 2))
                dedup.release_persisted()
            r1, w1 = shuffle_totals(ui_url, app_id)
            # min-of-N: the noise on this host is strictly additive
            # neighbor load, so the fastest warm run is the measurement.
            wall = min(runs)
            per_q[name] = {
                "wall_sec": wall,
                "rows_per_sec": round(n / wall, 1),
                "runs": runs,
                "median": statistics.median(runs),
                "shuffle_read_mb": round((r1 - r0) / 1e6 / n_runs, 1),
                "shuffle_write_mb": round((w1 - w0) / 1e6 / n_runs, 1),
                "load_avg": loads,
            }
            print(f"[{n}] {name}: {per_q[name]}", flush=True)
        out["scales"][str(n)] = per_q

    if len(scales) == 2:
        lo, hi = (str(s) for s in scales)
        out["linear_ratios"] = {
            q: {
                "wall_x": round(
                    out["scales"][hi][q]["wall_sec"]
                    / max(out["scales"][lo][q]["wall_sec"], 0.1),
                    2,
                ),
                "shuffle_write_x": round(
                    out["scales"][hi][q]["shuffle_write_mb"]
                    / max(out["scales"][lo][q]["shuffle_write_mb"], 0.1),
                    2,
                ),
                "scale_x": scales[1] / scales[0],
            }
            for q in out["scales"][lo]
        }
    os.makedirs(".bench_state", exist_ok=True)
    dest = ".bench_state/mix_scale_prod.json" if prod_only else ".bench_state/mix_scale.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
