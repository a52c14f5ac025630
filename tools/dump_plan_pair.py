"""Dump `.explain("formatted")` for a before/after pair of query plans.

Writes .tmp/plans/<query>_<tag>.txt for each named query (tag = argv[1],
e.g. "before" or "after"; .tmp/ is gitignored).  Runs under
SPARK_GRAFT_LAZY_CUTS=1 so plan construction for cut-lineage operators
does not execute Spark jobs; the pre-cut lineage (iteration exchanges
included) is visible, matching how PLANS.md documents those operators.

Usage: python tools/dump_plan_pair.py <tag> [names...]
"""

from __future__ import annotations

import os
import sys

os.environ.setdefault("SPARK_GRAFT_LAZY_CUTS", "1")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from naive_query_engine_spark import get_spark  # noqa: E402
from naive_query_engine_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_TARGETS = [
    "dedup_substring",
    "dedup_substring_strided",
    "dedup_tfidf_cosine_prefix",
    "dedup_tfidf_cosine",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dataset_dsir_importance_weights",
    "text_bm25_topk",
    "retrieval_rrf_fusion",
]


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    tag = sys.argv[1]
    names = sys.argv[2:] or DEFAULT_TARGETS
    out_dir = os.path.join(REPO, ".tmp", "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="nqes-plan-pair")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan dump: {name}")
        df = QUERIES[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
