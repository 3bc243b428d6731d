"""Time individual registry queries with the bench methodology (min-of-3
warm `.count()` on a get_spark session, q30 warm-up first) — the isolation
harness for optimization rounds.

    PYTHONPATH=/root/repo python tools/qtime.py q96e_tfidf_cosine [more...]
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... override as usual
    QTIME_REPS=N for a different rep count; QTIME_NOOP=1 times the noop
    sink (guide §1.4) instead of count() for column-pruning-proof timing.

Core scaling of the heavy similarity family on the persisted sf1-equivalent
corpus (tools/sf1_corpus.py): run once per core count, a fresh process each
(the Spark master is fixed per JVM), and compare.

    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/tmp/bcs_sf1_ab QTIME_REPS=2 \\
        python tools/qtime.py q94_curation_pipeline q94d_curation_pipeline_lsh \\
        q96_minhash_lsh q96e_tfidf_cosine q97h_bm25_topk q95p_dup_span_extract \\
        q96d_semdedup
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs
from better_cdc_spark.queries import load_all
from better_cdc_spark.session import DEFAULT_SF_DIR, get_spark


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: qtime.py <query> [query...]")
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    reps = int(os.environ.get("QTIME_REPS", "3"))
    use_noop = os.environ.get("QTIME_NOOP", "0") == "1"
    registry = load_all()
    spark = get_spark("qtime")
    registry["q30_grouped_agg_tpch_q1"].fn(spark, sf_dir).count()

    for name in names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")

        def run() -> None:
            df = registry[name].fn(spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()

        walls = timed_runs(run, reps)
        spark.sparkContext.setJobDescription(None)
        print(
            f"QTIME {name} min={min(walls):.3f} "
            f"all={[round(w, 3) for w in walls]}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
