"""Interleaved A/B: query QPS at local[8] with shuffle_partitions 128
vs 32 over the same on-disk index. Per the host-noise protocol the two
variants alternate (fresh JVM each sample) so drift hits both equally.

Usage: python tools/shuffle_parts_ab.py [n_docs] [repeats] [partsA] [partsB]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# one fresh-JVM sample: 60 BM25 top-10 queries as concurrent jobs
# (queue depth 8) over a prebuilt index; prints {"cores", "qps"}
CHILD = r"""
import json, os, sys, time
from concurrent.futures import ThreadPoolExecutor
sys.path.insert(0, {repo!r})
from elasticsearch_spark.session import get_spark
from elasticsearch_spark.index.builder import load_index
from elasticsearch_spark.search.executor import match_topk
from elasticsearch_spark.analysis import analyze

cores, idx_dir = int(sys.argv[1]), sys.argv[2]
# SHUFFLE_PARTS is the A/B knob (the scorer exchange carries k
# rows/shard, so narrower is mostly a scheduling-overhead lever)
parts = int(os.environ.get("SHUFFLE_PARTS", "128"))
spark = get_spark(f"qps{{cores}}", cores=cores, shuffle_partitions=parts)
idx = load_index(spark, idx_dir).cache()
queries = ["import return static", "parseIndex scanBuffer", "def lambda yield",
           "public class void", "read_buf_cfg token"]
terms = [[t for t, _ in analyze(q, "code")] for q in queries]
# two warmup rounds: the first JIT-compiles the scorer codegen, the
# second settles it — a single round leaves the measured stream paying
# compilation on some hot paths (observed as 2-3x sample spread at
# higher core counts)
for _ in range(2):
    for ts in terms:
        match_topk(idx, "content", ts, k=10).collect()
N = 60
# fixed queue depth of 8 in-flight queries at BOTH levels: each job is
# internally data-parallel (62 scan tasks), so one in-flight job can
# already saturate either level and the worker count only sets queue
# depth. A per-core depth (4*cores = 32 at local[8]) was A/B-tested and
# LOST (best 1.818 vs 2.27 QPS): 32 concurrent py4j submitters + their
# job stages thrash the single local-mode scheduler thread.
t0 = time.time()
with ThreadPoolExecutor(max_workers=8) as ex:
    futs = [ex.submit(lambda ts=terms[i % len(terms)]:
                      match_topk(idx, "content", ts, k=10).collect())
            for i in range(N)]
    for f in futs:
        f.result()
print(json.dumps({{"cores": cores, "qps": N / (time.time() - t0)}}))
"""


def one(cores: int, idx_dir: str, parts: int) -> float:
    env = dict(os.environ, SHUFFLE_PARTS=str(parts))
    proc = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO),
         str(cores), idx_dir],
        capture_output=True, text=True, timeout=1800, env=env,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError("child failed")
    return json.loads(proc.stdout.strip().splitlines()[-1])["qps"]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    pa = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    pb = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.session import get_spark

    shards = max(32, n_docs // 8000)
    spark = get_spark("abbuild", cores=16, shuffle_partitions=2 * shards)
    corpus = generate_corpus(spark, n_docs, seed=42,
                             partitions=2 * shards).cache()
    idx_dir = tempfile.mkdtemp(prefix="ab_idx_")
    build_index(corpus, idx_dir, fields={"content": "code"},
                num_partitions=shards, id_cols=["repo", "path", "commit"],
                input_snapshot="ab")
    spark.stop()

    a, b = [], []
    for i in range(repeats):
        a.append(one(8, idx_dir, pa))
        b.append(one(8, idx_dir, pb))
        sys.stderr.write(
            f"round {i + 1}/{repeats}: parts{pa}={a[-1]:.3f} "
            f"parts{pb}={b[-1]:.3f}\n")
    print(json.dumps({
        "n_docs": n_docs,
        f"qps_parts{pa}": sorted(round(v, 3) for v in a),
        f"qps_parts{pb}": sorted(round(v, 3) for v in b),
        f"best_{pa}": max(a), f"best_{pb}": max(b),
    }))


if __name__ == "__main__":
    main()
