"""Workload corpora: generated from a seed, written once as parquet.

Each (workload, seed) corpus is produced by the package's own synthetic
generators and written with pyarrow, not Spark, so generation never
shares a JVM, a timed window or a cached block with the system under
test. The pipeline only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Corpus shape per workload. The sizes are small because one benchmark
# run is a fresh process that pays a cold pipeline run (see README.md).
WORKLOADS = {
    "checkpointed": {
        "mode": "workdir",
        "generator": "generate_corpus",
        "args": {"n_clusters": 150, "n_unrelated": 300, "n_repos": 100},
    },
    "clones": {
        "mode": "cache",
        "generator": "generate_corpus",
        "args": {"n_clusters": 150, "n_unrelated": 300, "n_repos": 100},
    },
}

FILES_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("spec_id", pa.string()),
        ("content_sha", pa.string()),
    ]
)


def _generate(workload: str, seed: int):
    from bigdataentityresolution_spark.sources import synthetic

    spec = WORKLOADS[workload]
    return getattr(synthetic, spec["generator"])(seed=seed, **spec["args"])


def ensure_corpus(root: str, workload: str, seed: int, n_parts: int) -> dict:
    """Write the corpus for (workload, seed) under ``root`` unless it is
    already there; return its manifest (paths and sizes)."""
    out = os.path.join(root, f"{workload}-s{seed}")
    manifest_path = os.path.join(out, "corpus.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)

    corpus = _generate(workload, seed)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "files"))

    # spec_id and content_sha exactly as sources.synthetic.corpus_to_spark
    # derives them (concat_ws of repo, "//", path, "@", commit; sha2-256).
    rows = [
        (repo, path, commit, lang, content, f"{repo}//{path}@{commit}",
         hashlib.sha256(content.encode("utf-8")).hexdigest())
        for repo, path, commit, lang, content in corpus.files
    ]
    cols = list(zip(*rows))
    for part in range(n_parts):
        chunk = [list(c[part::n_parts]) for c in cols]
        pq.write_table(
            pa.Table.from_arrays(chunk, schema=FILES_SCHEMA),
            os.path.join(tmp, "files", f"part-{part:05d}.parquet"),
        )
    ids, cids = zip(*corpus.truth)
    pq.write_table(
        pa.table({"spec_id": pa.array(ids, pa.string()), "cluster_id": pa.array(cids, pa.int64())}),
        os.path.join(tmp, "truth.parquet"),
    )
    left, right, label, split = zip(*corpus.pairs)
    pq.write_table(
        pa.table(
            {
                "left_spec_id": pa.array(left, pa.string()),
                "right_spec_id": pa.array(right, pa.string()),
                "label": pa.array(label, pa.int32()),
                "split": pa.array(split, pa.string()),
            }
        ),
        os.path.join(tmp, "pairs.parquet"),
    )
    manifest = {
        "workload": workload,
        "seed": seed,
        "generator": WORKLOADS[workload]["generator"],
        "args": WORKLOADS[workload]["args"],
        "n_files": len(rows),
        "n_labeled_pairs": len(corpus.pairs),
        "n_truth_clusters": len(set(cids)),
        "files_bytes": sum(
            os.path.getsize(os.path.join(tmp, "files", p))
            for p in os.listdir(os.path.join(tmp, "files"))
        ),
        "content_bytes": sum(len(r[4].encode("utf-8")) for r in rows),
        "files": os.path.join(out, "files"),
        "truth": os.path.join(out, "truth.parquet"),
        "pairs": os.path.join(out, "pairs.parquet"),
    }
    with open(os.path.join(tmp, "corpus.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest
