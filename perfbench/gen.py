"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical files, another seed writes different ones.

* ``corpus`` writes the ten-table parquet corpus the analyst queries read,
  with the schemas and value domains of the TPC-H-like corpus in
  ``TESTDATA.md``/``FIXTURES.md``.
* ``changelog`` draws a CDC changelog (the flat merge envelope) and
  ``write_change_files`` lands it as parquet files in the nested Datastream
  wire shape that ``CdcStream.nestedFileChangelogStream`` reads.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "error", "click", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["red", "blue", "old", "new", "cold", "hot", "small", "large"]
NOUN = ["bolt", "gear", "ring", "plate", "anvil", "widget", "rod", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "big stream filter group vector").split()

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _write(table, path):
    # one row group and no creator string differences between runs
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus(out_dir, seed, sf):
    """Write region..embeddings at scale factor ``sf`` under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(50, int(15_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, l_ord[1:] != l_ord[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenum = np.arange(n_li) - run_start + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(1, 2500, n_li) * DAY_US,
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    gaps = rng.integers(1, 2 * 30 * DAY_US // max(n_ev, 1), n_ev)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")
    vocab = np.array(VOCAB)
    lens = rng.integers(15, 80, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # a few near-copies so the dedup families are not empty
    for i in rng.choice(n_doc, n_doc // 100, replace=False):
        texts[i] = texts[(i * 7 + 1) % n_doc]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


# The flat merge envelope (CdcStream.envelopeSchema).
FLAT = pa.schema([("op", pa.string()), ("tbl", pa.string()),
                  ("pos", pa.int64()), ("ts_ns", pa.int64()),
                  ("user_id", pa.int64()), ("value", pa.float64()),
                  ("event_type", pa.string())])
# The nested wire envelope (AvroChangeFiles.nestedSparkSchema).
NESTED = pa.schema([
    ("payload", pa.struct([("user_id", pa.int64()), ("value", pa.float64()),
                           ("event_type", pa.string())])),
    ("source_metadata", pa.struct([
        ("op", pa.string()), ("tbl", pa.string()), ("source_ts_ns", pa.int64()),
        ("log_file", pa.string()), ("pos", pa.int64())]))])


def changelog(seed, n_events, n_keys, zipf=None, null_frac=0.01,
              late_frac=0.03, dup_frac=0.005, late_span=400, pos0=0):
    """Draw ``n_events`` changes in delivery order, as a flat arrow table.

    Ops follow ``Cdc.changelog``'s mapping of the corpus events (signup →
    INSERT, error → DELETE, the rest UPDATE: about 20/20/60). Rows are split
    over the ``pets`` and ``events`` tables as in the reference merge job.
    Keys are uniform over ``n_keys`` or Zipf-skewed with exponent ``zipf``.
    About ``null_frac`` of rows carry a null key (dead-letter rows),
    ``late_frac`` are delivered up to ``late_span`` positions after their
    binlog position (out of order within their key) and ``dup_frac`` are
    delivered twice.
    """
    rng = np.random.default_rng([seed, 2])
    pos = pos0 + np.arange(n_events, dtype=np.int64)
    if zipf:
        keys = (rng.zipf(zipf, n_events) - 1) % n_keys
    else:
        keys = rng.integers(0, n_keys, n_events)
    etype = rng.integers(0, 5, n_events)
    op = np.where(etype == 0, "INSERT", np.where(etype == 2, "DELETE", "UPDATE"))
    tbl = np.where(rng.random(n_events) < 0.3, "pets", "events")
    value = np.round(rng.exponential(50.0, n_events), 2) + 0.01
    ts_ns = 1_704_067_200_000_000_000 + pos * 1_000_000
    order = pos + np.where(rng.random(n_events) < late_frac,
                           rng.integers(1, late_span + 1, n_events), 0)
    dup = np.flatnonzero(rng.random(n_events) < dup_frac)
    idx = np.r_[np.arange(n_events), dup]
    order = np.r_[order, order[dup] + rng.integers(1, late_span + 1, len(dup))]
    idx = idx[np.argsort(order, kind="stable")]
    null_key = rng.random(len(idx)) < null_frac
    keys_out = pa.array(keys[idx], pa.int64(), mask=null_key)
    return pa.table([
        pa.array(op[idx]), pa.array(tbl[idx]), pa.array(pos[idx]),
        pa.array(ts_ns[idx]), keys_out, pa.array(value[idx]),
        pa.array(np.array(EVENT_TYPES)[etype[idx]])], schema=FLAT)


def nested(flat):
    """The flat envelope in the nested Datastream wire shape."""
    pos = flat.column("pos").to_numpy()
    log_file = [f"binlog.{p // 1000:06d}" for p in pos]
    payload = pa.StructArray.from_arrays(
        [flat.column("user_id").combine_chunks(), flat.column("value").combine_chunks(),
         flat.column("event_type").combine_chunks()],
        fields=list(NESTED.field("payload").type))
    meta = pa.StructArray.from_arrays(
        [flat.column("op").combine_chunks(), flat.column("tbl").combine_chunks(),
         flat.column("ts_ns").combine_chunks(), pa.array(log_file),
         flat.column("pos").combine_chunks()],
        fields=list(NESTED.field("source_metadata").type))
    return pa.Table.from_arrays([payload, meta], schema=NESTED)


def write_change_files(flat, out_dir, rows_per_file, prefix="chg"):
    """Cut ``flat`` (delivery order) into files of ``rows_per_file`` rows;
    returns the file names in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i, start in enumerate(range(0, flat.num_rows, rows_per_file)):
        name = f"{prefix}-{i:06d}.parquet"
        _write(nested(flat.slice(start, rows_per_file)), f"{out_dir}/{name}")
        names.append(name)
    return names
