"""Shuffle-budget regression guard for the LSM build (VERDICT r2
item 1): the build's design property is ONE shuffle, carrying
compressed posting fragments — not raw token rows. A plan change that
reintroduces the exploded-token exchange would multiply shuffled bytes
by ~6x; this test pins the property with real stage metrics (Spark UI
REST — the same instrument behind benchmarks/membw_evidence.json).

Runs in a subprocess because the shared test session has the UI
disabled (and stage metrics must not include other tests' jobs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, shutil, sys, tempfile, urllib.request
sys.path.insert(0, sys.argv[1])
from pke_spark.corpus import synth_corpus, with_doc_ids
from pke_spark.index.build import build_index, _dir_bytes
from pke_spark.session import get_spark

spark = get_spark("shuffle_guard", cpus=4, shuffle_partitions=8,
                  extra_conf={"spark.ui.enabled": "true"})
spark.sparkContext.setLogLevel("ERROR")
ui = spark.sparkContext.uiWebUrl
app = spark.sparkContext.applicationId

def stages():
    with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages", timeout=30) as r:
        return json.load(r)

corpus = with_doc_ids(synth_corpus(spark, 4000, partitions=8))
docs = corpus.select("doc_id", corpus.content.alias("text"))
ix = tempfile.mkdtemp(prefix="shuffle_guard_")
# the budget under test is the BUILD's own: snapshot the stage ids the
# session bring-up (get_spark warm-up) already ran, count only beyond
pre = {s["stageId"] for s in stages()}
build_index(docs, ix, n_parts=8, n_salts=4)
shuffling = [s for s in stages()
             if s["stageId"] not in pre
             and s.get("shuffleWriteBytes", 0) > 0]
print(json.dumps({
    "n_shuffle_stages": len(shuffling),
    "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in shuffling),
    "postings_bytes": _dir_bytes(f"{ix}/postings"),
    "segments_bytes": _dir_bytes(f"{ix}/segments"),
}))
shutil.rmtree(ix, ignore_errors=True)
spark.stop()
import os; os._exit(0)
"""


def test_build_has_single_compressed_shuffle():
    out = subprocess.run([sys.executable, "-c", CHILD, ROOT],
                         capture_output=True, text=True, timeout=600)
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("{")][-1]
    m = json.loads(line)
    # exactly ONE shuffling stage: the fragment-salted (term, shard)
    # exchange of phase B. Phase A (fused tokenize+count) and the
    # small-corpus stats path must add none.
    assert m["n_shuffle_stages"] == 1, m
    # and what it carries is encoded fragments, not raw token rows:
    # bounded by the postings size (+ row-format overhead), far below
    # the raw-row exchange the old pipeline paid (~6x postings)
    assert m["shuffle_write_bytes"] < 2.0 * m["postings_bytes"], m
