"""Memory-traffic evidence for the index build (VERDICT r2 item 1).

Runs the full build and reports, from Spark's AppStatusStore, the
TOTAL bytes that crossed the memory system through Spark machinery:
shuffle write + shuffle read + memory/disk spill + task input/output,
plus wall time. Run it from two checkouts (the round-2 pipeline vs the
round-3 run-merge pipeline) to quantify the membw-share cut:

    python <new checkout>/scripts/membw_evidence.py 200000 8 new
    python <old checkout>/scripts/membw_evidence.py 200000 8 old

Appends one record per run to benchmarks/membw_evidence.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pke_spark.corpus import synth_corpus, with_doc_ids  # noqa: E402
from pke_spark.index.build import build_index  # noqa: E402
from pke_spark.session import get_spark  # noqa: E402


def _stage_totals(spark) -> dict[str, int]:
    """Sum shuffle/spill/IO bytes over all stages via the Spark UI REST
    API (version-stable, unlike the AppStatusStore py4j surface)."""
    import urllib.request
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages",
                                timeout=30) as r:
        stages = json.load(r)
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "memory_spill_bytes": 0, "disk_spill_bytes": 0,
           "input_bytes": 0, "output_bytes": 0}
    for s in stages:
        out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        out["memory_spill_bytes"] += s.get("memoryBytesSpilled", 0)
        out["disk_spill_bytes"] += s.get("diskBytesSpilled", 0)
        out["input_bytes"] += s.get("inputBytes", 0)
        out["output_bytes"] += s.get("outputBytes", 0)
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    label = sys.argv[3] if len(sys.argv) > 3 else "new"
    spark = get_spark(f"membw_{label}", cpus=cpus, shuffle_partitions=64,
                      extra_conf={"spark.local.dir": "/dev/shm/spark_membw",
                                  "spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    corpus = with_doc_ids(synth_corpus(spark, n_docs, partitions=64))
    docs = corpus.select("doc_id", corpus.content.alias("text"))
    ix_dir = tempfile.mkdtemp(prefix=f"membw_{label}_", dir="/dev/shm")
    src = f"{ix_dir}/src"
    docs.write.parquet(src)
    docs = spark.read.parquet(src)
    base = _stage_totals(spark)
    t0 = time.time()
    build_index(docs, ix_dir, n_parts=32, n_salts=8,
                driver_stats_max_bytes=0)
    wall = time.time() - t0
    tot = _stage_totals(spark)
    rec = {"label": label, "n_docs": n_docs, "cpus": cpus,
           "build_sec": round(wall, 2),
           **{k: int(tot[k] - base[k]) for k in tot}}
    rec["shuffle_total_mb"] = round(
        (rec["shuffle_write_bytes"] + rec["shuffle_read_bytes"]) / 2**20, 1)
    path = os.path.join(ROOT, "benchmarks", "membw_evidence.json")
    hist = json.load(open(path)) if os.path.exists(path) else []
    hist.append(rec)
    json.dump(hist, open(path, "w"), indent=2)
    print(json.dumps(rec))
    shutil.rmtree(ix_dir, ignore_errors=True)
    spark.stop()
    os._exit(0)


if __name__ == "__main__":
    main()
