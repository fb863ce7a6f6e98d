"""Train and commit the TPR LDA model fixture (the engine's analog of
pke's pre-trained pickled LDA artifact, pke/utils.py:309-415).

The reference never trains LDA in-query: ``compute_lda_model`` is an
offline step and ``load_lda_model`` (S7) loads the artifact that
``TopicalPageRank.candidate_weighting`` consumes. Distributed EM-LDA
training is float-sum-order nondeterministic (two fits on identical
data at identical parallelism differ), so the committed artifact is
also what makes the `topical_pagerank` driver entry deterministic and
golden-freezable. Serving (transform + broadcast word-topic matrix) is
per-row and fully deterministic.

Usage: python scripts/train_tpr_fixture.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pke_spark.ops import tpr  # noqa: E402
from pke_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else tpr.TPR_MODEL_DIR
    spark = get_spark("train_tpr_fixture", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tpr.train_tpr(docs, model_dir=out)
    print(f"saved TPR model to {out}")
    spark.stop()


if __name__ == "__main__":
    main()
