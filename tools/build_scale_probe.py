#!/usr/bin/env python3
"""Build replicated scale-probe corpora for the pair-generation family.

No sf1 testdata exists, so scale evidence above sf0.1 comes from
REPLICATED corpora: documents/embeddings replicated Rx with per-replica
perturbations chosen to match how a genuinely larger corpus behaves for
near-dup pair generation:

  - documents: every 5th word of replica k is salted with a replica tag
    ("rK·word"). Word-3-gram shingle overlap between replicas drops to
    ~25% Jaccard — far below the 0.8 pair threshold — so near-dup
    CLUSTERS stay within-replica (cluster size distribution invariant,
    like a real bigger crawl), while the ~40% of shingles left untouched
    have their document frequency scale ~linearly with R (hot-shingle DF
    growth, the thing the DF cap must absorb).
  - embeddings: replica k rotates each vector's components by k
    positions. Within-replica geometry (and thus near-dup structure) is
    preserved exactly; cross-replica vectors decorrelate.

Usage: python3 tools/build_scale_probe.py <outBase> [R ...]
Creates <outBase>/x<R>/ with perturbed documents/embeddings parquet and
symlinks to the other sf0.1 tables. Probe-only: these corpora are NEVER
oracle inputs — correctness stays gated on the driver testdata.
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def salt_text(text, k):
    if k == 0:
        return text
    words = text.split(" ")
    return " ".join(
        f"r{k}·{w}" if i % 5 == 0 else w
        for i, w in enumerate(words))


def build(out_base, factors):
    docs = pq.read_table(f"{SRC}/documents.parquet").to_pylist()
    embs = pq.read_table(f"{SRC}/embeddings.parquet").to_pylist()
    ndoc, nemb = len(docs), len(embs)
    for r in factors:
        out = f"{out_base}/x{r}"
        os.makedirs(out, exist_ok=True)
        drows = []
        for k in range(r):
            for d in docs:
                t = salt_text(d["text"], k)
                drows.append({"doc_id": d["doc_id"] + k * 10 * ndoc,
                              "text": t, "lang": d["lang"],
                              "source": d["source"], "n_chars": len(t)})
        pq.write_table(pa.Table.from_pylist(drows, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())])), f"{out}/documents.parquet")
        erows = []
        for k in range(r):
            for e in embs:
                v = e["embedding"]
                rot = v[k % len(v):] + v[:k % len(v)]
                erows.append({"vec_id": e["vec_id"] + k * 10 * nemb,
                              "embedding": rot, "label": e["label"]})
        pq.write_table(pa.Table.from_pylist(erows, schema=pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32())])), f"{out}/embeddings.parquet")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"]:
            dst = f"{out}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{SRC}/{t}.parquet", dst)
        print(f"{out}: documents={len(drows)} embeddings={len(erows)}")


def build_skew(out_base, factors, hot_frac=0.3):
    """Skewed-key replication of the events table for the AQE skew-join
    probe (its 10x results are in BASELINE.md, "AQE skew probe at 10×"):
    replica rows keep their timestamps but
    `hot_frac` of ALL rows are remapped to user_id=0 — one hot key whose
    row count grows linearly with R while the tail stays uniform. This is
    the adversarial shape AqeSkewSpec pins at unit scale; the probe
    confirms the runtime split behavior (split count grows, wall time
    sub-linear) at 10x."""
    evts = pq.read_table(f"{SRC}/events.parquet").to_pylist()
    nevt = len(evts)
    for r in factors:
        out = f"{out_base}/skew_x{r}"
        os.makedirs(out, exist_ok=True)
        rows = []
        for k in range(r):
            for e in evts:
                eid = e["event_id"] + k * 10 * nevt
                rows.append({
                    "event_id": eid,
                    "ts": e["ts"],
                    "user_id": 0 if (eid % 1000) < hot_frac * 1000
                    else e["user_id"] + 1,
                    "event_type": e["event_type"],
                    "value": e["value"],
                    "props": e["props"]})
        # many small row groups: AQE's skew split slices a reducer
        # partition along MAP-task boundaries, and parquet assigns whole
        # row groups to map splits — a single-row-group file is one map
        # and therefore unsplittable regardless of skew
        pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string())])),
            f"{out}/events.parquet", row_group_size=25000)
        print(f"{out}: events={len(rows)} hot_frac={hot_frac}")


if __name__ == "__main__":
    if sys.argv[1] == "--skew":
        base = sys.argv[2]
        factors = [int(a) for a in sys.argv[3:]] or [1, 10]
        build_skew(base, factors)
    else:
        base = sys.argv[1]
        factors = [int(a) for a in sys.argv[2:]] or [3, 10]
        build(base, factors)
