"""Build a measurement-only scaled dataset by replicating a driver SF dir.

The driver's round-end MEASUREMENT may run at a larger, driver-generated
scale factor than the sf0.1 shipped in /root/testdata (BENCH_r05 recorded
sf=1.0).  That data is not present between rounds, so for guide-§1
"measure first" work this script synthesizes an equivalent corpus from
sf0.1 by replicating each table ``factor`` times with:

* **ID offsets** on every key column (event_id/user_id/doc_id/vec_id/
  l_orderkey/...) so group *counts* scale while per-key group *sizes*
  stay constant — the same shape real SF scaling has.
* **A per-copy Caesar cipher over ASCII letters** for document text
  (identity for copy 0): lengths, whitespace, digits and punctuation are
  preserved, so intra-copy exact/near-duplicate structure is byte-for-
  byte identical to the original, while cross-copy shingles never
  collide — replicated docs do NOT become giant cross-copy duplicate
  groups that real scaled data would not contain. The cipher remaps only
  ASCII letter bytes, which never occur inside a UTF-8 multibyte
  sequence, so non-ASCII text stays valid UTF-8. Caveat: a document with
  no ASCII letters (digits/punctuation only) is identical in every copy.
* **A per-copy random orthogonal rotation** for embeddings (identity for
  copy 0): intra-copy cosine geometry is exactly preserved; cross-copy
  similarities look like random pairs, so LSH bucket sizes scale the way
  independent data would.
* **One parquet row group per file**, matching the driver layout (this
  is load-bearing: a single row group cannot be split, so pre-exchange
  stages run on one core unless an operator spreads them — the round's
  central finding).

Timing-only data: oracle correctness always runs on the untouched
/root/testdata SFs.

Usage: python tools/make_sf_synth.py [src_dir] [dst_dir] [factor]
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSETS = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
COPY_AS_IS = ["nation", "region"]  # fixed lookup tables (TPC-H-style)


def _cipher_tables(n: int) -> list[bytes]:
    out = []
    for k in range(n):
        t = bytearray(range(256))
        for base in (ord("a"), ord("A")):
            for i in range(26):
                t[base + i] = base + (i + 3 * k) % 26
        out.append(bytes(t))
    return out


def _rotations(n: int, dim: int) -> list[np.ndarray]:
    mats = [np.eye(dim, dtype=np.float32)]
    rng = np.random.default_rng(42)
    for _ in range(1, n):
        q, _r = np.linalg.qr(rng.standard_normal((dim, dim)))
        mats.append(q.astype(np.float32))
    return mats


def scale_table(name: str, src: str, dst: str, factor: int) -> int:
    if name not in OFFSETS and name not in COPY_AS_IS:
        raise ValueError(
            f"table {name!r} is in neither OFFSETS nor COPY_AS_IS: its copies "
            "would repeat every key; declare its key columns first"
        )
    tab = pq.read_table(os.path.join(src, f"{name}.parquet"))
    n = tab.num_rows
    if name in COPY_AS_IS or factor == 1:
        pq.write_table(tab, os.path.join(dst, f"{name}.parquet"),
                       row_group_size=1 << 30)
        return n
    key_cols = [c for c in OFFSETS.get(name, []) if c in tab.column_names]
    ciphers = _cipher_tables(factor) if name == "documents" else None
    rots = None
    if name == "embeddings":
        dim = len(tab.column("embedding")[0])
        rots = _rotations(factor, dim)
        emb = np.asarray(
            tab.column("embedding").combine_chunks().flatten(),
            dtype=np.float32).reshape(n, dim)
    copies = []
    for k in range(factor):
        arrays = []
        for cname in tab.column_names:
            col = tab.column(cname)
            if cname in key_cols:
                off = k * (10 ** 9)
                arrays.append(pc.add(col, off) if k else col)
            elif ciphers is not None and cname == "text":
                if k == 0:
                    arrays.append(col)
                else:
                    t = ciphers[k]
                    vals = [v.as_py().encode().translate(t).decode("utf-8")
                            if v.is_valid else None for v in col.combine_chunks()]
                    arrays.append(pa.array(vals, type=pa.string()))
            elif rots is not None and cname == "embedding":
                rot = (emb @ rots[k]).astype(np.float32)
                flat = pa.array(rot.reshape(-1), type=pa.float32())
                offs = pa.array(np.arange(n + 1, dtype=np.int32) * emb.shape[1])
                arrays.append(pa.ListArray.from_arrays(offs, flat))
            else:
                arrays.append(col)
        copies.append(pa.table(arrays, names=tab.column_names))
    out = pa.concat_tables(copies).combine_chunks()
    pq.write_table(out, os.path.join(dst, f"{name}.parquet"),
                   row_group_size=1 << 30)
    return out.num_rows


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/sfsynth/sf1.0"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    names = [os.path.basename(p)[:-8] for p in sorted(os.listdir(src))
             if p.endswith(".parquet")]
    for name in names:
        rows = scale_table(name, src, dst, factor)
        print(f"{name}: {rows} rows")
    open(os.path.join(dst, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
