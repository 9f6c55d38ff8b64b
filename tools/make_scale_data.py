#!/usr/bin/env python3
"""Dev-only scale data builder: a replicated sf directory for timing a
query subset at N× data with `graft.QueryBench <outDir> <prefixes>`.

Replicates the SF-proportional tables N times:

- events.parquet — event_ids offset to stay dense-and-unique, timestamps
  shifted past the source span per copy so time semantics stay sane.
- documents.parquet — doc_ids offset; copy k > 0 rewrites EVERY token
  to tok¶k (the separator is asserted absent from the corpus, so the
  rename is injective both within AND across copies — a bare digit
  suffix would let copy 0's 'foo1' collide with copy 1's rename of
  'foo'). A bijective token rename preserves shingle-Jaccard structure
  WITHIN a copy exactly (each copy contributes the original corpus's
  near-dup pairs, id-shifted) while making shingle sets across copies
  disjoint (no spurious cross-copy near-dups) — so q30/q31/q60 pair
  counts must grow exactly linearly in N.
- embeddings.parquet — vec_ids offset; copy k rotates the dims by k
  (distinct rotations for every copy, enforced N <= dim — a stride like
  3k+1 mod 64 silently repeats rotation 0 at k=21). Rotation preserves
  within-copy cosines exactly and decorrelates copies, so q57's
  planted-twin structure scales without cross-copy near-dups; q57's
  corpus-adaptive band width keeps the band-collision candidates linear
  in N (see PipelineQueries).

Everything else (fixed-size dims) is symlinked unchanged; stale/broken
links are repaired. pyarrow is used (not DuckDB) so the parquet physical
types, including events.ts TIMESTAMP(NANOS), survive byte-exact.

Usage: python3 tools/make_scale_data.py <sfDir> <outDir> [N=10] [--cf]

`--cf` additionally replicates orders+lineitem (offset custkeys/
orderkeys, SAME part vocabulary) so the q192/q198 item-item-CF chain
can be probed at N× baskets; see replicate_cf for the contract.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINK_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]


def _fresh(path: str) -> str:
    """Old runs symlinked documents/embeddings; writing a replica through
    such a leftover link would target the (read-only) source dir."""
    if os.path.islink(path):
        os.remove(path)
    return path


def replicate_events(sf_dir: str, out_dir: str, n: int) -> int:
    t = pq.read_table(f"{sf_dir}/events.parquet")
    n_rows = t.num_rows
    # the generator has shipped ts as TIMESTAMP(NANOS) and TIMESTAMP
    # (MICROS) across rounds — the span arithmetic and the cast back
    # must follow the COLUMN's unit, or a µs column reinterpreted as ns
    # compresses each copy's span 1000x under every event-time window
    # (q71's 30x pair count went quadratic exactly this way)
    ts_type = t.schema.field("ts").type
    gap = {"ns": 60_000_000_000, "us": 60_000_000,
           "ms": 60_000, "s": 60}[ts_type.unit]
    span = pc.max(t["ts"]).cast(pa.int64()).as_py() - \
        pc.min(t["ts"]).cast(pa.int64()).as_py() + gap
    copies = []
    for k in range(n):
        c = t.set_column(t.schema.get_field_index("event_id"), "event_id",
                         pc.add(t["event_id"], k * n_rows))
        shifted = pc.add(c["ts"].cast(pa.int64()), k * span).cast(ts_type)
        c = c.set_column(c.schema.get_field_index("ts"), "ts", shifted)
        copies.append(c)
    big = pa.concat_tables(copies)
    pq.write_table(big, _fresh(f"{out_dir}/events.parquet"))
    return big.num_rows


def replicate_documents(sf_dir: str, out_dir: str, n: int) -> int:
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    off = pc.max(t["doc_id"]).as_py() + 1
    texts = t["text"].to_pylist()
    if any("¶" in s for s in texts):
        raise ValueError(
            "separator ¶ appears in the corpus — token rename would not be injective")
    copies = []
    for k in range(n):
        c = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                         pc.add(t["doc_id"], k * off))
        if k > 0:
            renamed = [" ".join(f"{tok}¶{k}" for tok in s.split(" "))
                       for s in texts]
            c = c.set_column(c.schema.get_field_index("text"), "text",
                             pa.array(renamed, type=t["text"].type))
        copies.append(c)
    big = pa.concat_tables(copies)
    pq.write_table(big, _fresh(f"{out_dir}/documents.parquet"))
    return big.num_rows


def replicate_embeddings(sf_dir: str, out_dir: str, n: int) -> int:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    off = pc.max(t["vec_id"]).as_py() + 1
    vecs = t["embedding"].to_pylist()
    dim = len(vecs[0])
    if n > dim:
        # rotations wrap past dim: copies k and k+dim share a rotation,
        # so cross-copy embedding twins exist and embedding-neardup
        # probes (q57-class) are INVALID on this dir. Probes that don't
        # read embeddings (the q192/q145/q160 CF/containment trio) are
        # unaffected — warn instead of refusing (r16, the 100x sweep).
        print(f"WARNING: N={n} > dim={dim} — rotations wrap (k % dim); "
              f"embedding-neardup probes are invalid on this dir")
    copies = []
    for k in range(n):
        c = t.set_column(t.schema.get_field_index("vec_id"), "vec_id",
                         pc.add(t["vec_id"], k * off))
        if k % dim > 0:
            r = k % dim
            rotated = [v[r:] + v[:r] for v in vecs]
            c = c.set_column(c.schema.get_field_index("embedding"), "embedding",
                             pa.array(rotated, type=t["embedding"].type))
        copies.append(c)
    big = pa.concat_tables(copies)
    pq.write_table(big, _fresh(f"{out_dir}/embeddings.parquet"))
    return big.num_rows


def replicate_cf(sf_dir: str, out_dir: str, n: int) -> int:
    """Replicate orders+lineitem for the q192/q198 item-item-CF probe:
    copy k offsets o_custkey and the o_orderkey/l_orderkey pair while
    keeping l_partkey UNCHANGED — n× the baskets over the SAME part
    vocabulary, which is exactly how a real order corpus grows. The
    neighbor chain's per-customer work is capped (BasketCap), so its
    cost must grow linearly in baskets; the pair-count table's keys stay
    part-vocabulary-bounded. Customer/part dims are NOT consulted by
    q192/q198 (the chain runs on the orders⋈lineitem incidence alone),
    so the offset custkeys needing no dim rows is fine — but it means a
    dir built with this flag is ONLY for queries that skip those dims.
    """
    o = pq.read_table(f"{sf_dir}/orders.parquet")
    l = pq.read_table(f"{sf_dir}/lineitem.parquet")
    c_off = pc.max(o["o_custkey"]).as_py() + 1
    k_off = max(pc.max(o["o_orderkey"]).as_py(),
                pc.max(l["l_orderkey"]).as_py()) + 1
    ocs, lcs = [], []
    for k in range(n):
        oc = o.set_column(o.schema.get_field_index("o_custkey"), "o_custkey",
                          pc.add(o["o_custkey"], k * c_off))
        oc = oc.set_column(oc.schema.get_field_index("o_orderkey"), "o_orderkey",
                           pc.add(o["o_orderkey"], k * k_off))
        ocs.append(oc)
        lc = l.set_column(l.schema.get_field_index("l_orderkey"), "l_orderkey",
                          pc.add(l["l_orderkey"], k * k_off))
        lcs.append(lc)
    for name, parts in (("orders", ocs), ("lineitem", lcs)):
        pq.write_table(pa.concat_tables(parts), _fresh(f"{out_dir}/{name}.parquet"))
    return n * o.num_rows


def main(sf_dir: str, out_dir: str, n: int, cf: bool = False) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n_ev = replicate_events(sf_dir, out_dir, n)
    n_doc = replicate_documents(sf_dir, out_dir, n)
    n_vec = replicate_embeddings(sf_dir, out_dir, n)
    link_tables = LINK_TABLES
    if cf:
        n_ord = replicate_cf(sf_dir, out_dir, n)
        link_tables = [t for t in LINK_TABLES
                       if t not in ("orders", "lineitem")]
        print(f"replicated {n_ord} orders (+lineitem) for the CF probe")
        # a prior non-cf run may have left orders/lineitem symlinks that
        # _fresh() already replaced with real files; nothing else to fix
    for name in link_tables:
        dst = f"{out_dir}/{name}.parquet"
        # any pre-existing link is re-created, not kept: a broken link
        # (pre-abspath relative runs) or a VALID link into a different
        # sf_dir (re-running into the same out_dir with another source)
        # would otherwise silently mix scales
        if os.path.islink(dst):
            os.remove(dst)
        elif os.path.lexists(dst):
            raise RuntimeError(f"{dst} exists and is not a symlink — refusing to replace")
        # abspath: a relative sf_dir would otherwise produce a link
        # that resolves relative to out_dir (broken)
        os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), dst)
    print(f"wrote {n_ev} events, {n_doc} documents, {n_vec} embeddings "
          f"({n}x) to {out_dir}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else 10,
         cf=(len(sys.argv) > 4 and sys.argv[4] == "--cf"))
