"""Seeded input generators for the benchmark workloads.

Two families:

* `write_tables` writes the star-schema parquet tables the query
  workloads read (same table names, column names and types, and value
  domains as the engine's testdata), one row group per file. Row counts
  depend only on the scale factor, never on the seed, so run time does
  not drift with the seed; the seed moves values only.
* `product_spec` lays out the CSR matrices of the product-build workload
  (one `cell_by_bin` and one `cell_by_gene` matrix per dataset, plus a
  re-delivered copy of one dataset for the refresh step) and the donor
  table, and `product_expectations` derives the closed-form results the
  built product must reproduce. The JVM side writes the matrices as h5ad
  with the engine's own writer (`harness/Gen.scala`).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; the engine's testdata uses the same ratios.
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def rows_at(sf):
    return {t: max(100, int(round(n * sf))) for t, n in BASE_ROWS.items()}


def _ts(epoch_us):
    return pa.array(epoch_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _days_since(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(words[at:at + k]))
        at += k
    # 5% near duplicates (an earlier document plus a marker word) and a
    # few exact copies of those, the shapes the dedup operators target.
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def table_arrays(seed, sf):
    """Every table as a dict of pyarrow arrays, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = rows_at(sf)
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                   "r_name": pa.array(REGIONS)}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)}
    c = n["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])}
    s = n["supplier"]
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(s, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s))}
    p = n["part"]
    keys = np.arange(p, dtype="int64")
    t["part"] = {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype("int32")),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0)}
    o = n["orders"]
    od0 = _days_since(1995, 1, 1)
    odays = rng.integers(0, _days_since(2001, 8, 1) - od0 + 1, o)
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _ts((od0 + odays) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)])}
    li = n["lineitem"]
    sd0 = _days_since(1995, 1, 2)
    sdays = rng.integers(0, _days_since(2001, 11, 4) - sd0 + 1, li)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, p, li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": _ts((sd0 + sdays) * DAY_US)}
    e = n["events"]
    e0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype("int64"))
    t["events"] = {
        "event_id": pa.array(np.arange(e, dtype="int64")),
        "ts": _ts(e0 + rng.integers(0, 30 * DAY_US, e)),
        "user_id": pa.array(rng.integers(0, max(10, c // 100), e).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])}
    d = n["documents"]
    texts = _documents(rng, d)
    t["documents"] = {
        "doc_id": pa.array(np.arange(d, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype="int64"))}
    v = n["embeddings"]
    g = rng.standard_normal((v, 64)).astype("float32")
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(v, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(g.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v).astype("int32"))}
    return t


def write_tables(seed, sf, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in table_arrays(seed, sf).items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))


# ---------------------------------------------------------------- product

# Relative dataset sizes; the seed only permutes them, so the total work
# is the same for every seed while the straggler moves between files.
SIZE_SHAPE = [0.6, 0.7, 0.8, 0.9, 1.0, 1.0, 1.1, 1.2, 1.3, 1.4, 5.0]


def product_spec(seed, nproc, median_cells=150, n_bins=1000, n_genes=400):
    """Layout of the product-build inputs.

    Each dataset has a `bin` and a `gene` CSR matrix. At least 2 x nproc
    datasets; one is several times the median size; about 10% of each
    dataset's cells are absent from its `gene` matrix; one dataset is
    missing from the donor table; one donor has a null age. Every
    present cell has at least one nonzero, and values are small integers
    so sums are exact in doubles.
    """
    rng = np.random.default_rng(seed + 7919)
    n_ds = max(len(SIZE_SHAPE), 2 * nproc)
    shape = (SIZE_SHAPE + [1.0] * n_ds)[:n_ds]
    sizes = [int(round(median_cells * s)) for s in rng.permutation(shape)]
    bins = [f"chr{1 + i // 200}:{(i % 200) * 5000}-{(i % 200) * 5000 + 5000}"
            for i in range(n_bins)]
    genes = [f"ENSG{i:011d}.1" for i in range(n_genes)]
    uuids = [f"ds{i:02d}" for i in range(n_ds)]

    def matrix(cells, n_vars, lo, hi):
        nnz = rng.integers(lo, hi + 1, len(cells))
        indptr = np.concatenate([[0], np.cumsum(nnz)]).astype("int64")
        indices = np.concatenate(
            [np.sort(rng.choice(n_vars, k, replace=False)) for k in nnz]
        ).astype("int64")
        data = rng.integers(1, 5, int(indptr[-1])).astype("float64")
        return {"obs": cells, "indptr": indptr, "indices": indices, "data": data}

    datasets = []
    for uuid, size in zip(uuids, sizes):
        cells = [f"{uuid}#{rng.integers(0, 1 << 40):010x}{i:05d}" for i in range(size)]
        keep = np.sort(rng.choice(size, size - size // 10, replace=False))
        datasets.append({
            "uuid": uuid,
            "bin": matrix(cells, n_bins, 20, 60),
            "gene": matrix([cells[i] for i in keep], n_genes, 5, 30)})
    big = int(np.argmax(sizes))
    # the straggler stays in the product: read-back prunes to it and
    # compaction rewrites one of its partitions
    absent = [i for i in range(n_ds) if i != big][int(rng.integers(0, n_ds - 1))]
    joined = [i for i in range(n_ds) if i != absent]
    null_age = joined[int(rng.integers(0, len(joined)))]
    refresh = [i for i in joined if i not in (big, null_age)][
        int(rng.integers(0, len(joined) - 2))]
    donors = [{"uuid": uuids[i], "hubmap_id": f"HBM{i:03d}.ABCD.{seed % 1000:03d}",
               "age": None if i == null_age else str(int(rng.integers(18, 90))),
               "sex": ["Female", "Male"][int(rng.integers(0, 2))]}
              for i in joined]
    # The re-delivered dataset: same cells and features, every value + 1.
    redo = {m: dict(datasets[refresh][m], data=datasets[refresh][m]["data"] + 1.0)
            for m in ("bin", "gene")}
    return {"datasets": datasets, "donors": donors, "refresh": refresh,
            "redo": redo, "big": big, "absent": absent,
            "vars": {"bin": bins, "gene": genes}}


def _kept(ds):
    """Per modality, the rows of the cells present in both matrices."""
    both = set(ds["gene"]["obs"])
    out = {}
    for m in ("bin", "gene"):
        mat = ds[m]
        rows = [i for i, c in enumerate(mat["obs"]) if c in both]
        out[m] = (rows, mat)
    return out, both


def _sums(mat, rows):
    ptr, data = mat["indptr"], mat["data"]
    nnz = sum(int(ptr[i + 1] - ptr[i]) for i in rows)
    total = sum(float(data[ptr[i]:ptr[i + 1]].sum()) for i in rows)
    return nnz, total


def product_expectations(spec):
    """Closed-form results of build, read-back and refresh: fact rows, cells
    in the metadata sidecar, rows of the pruned read, and value sums per
    (modality, dataset) once the refresh has replaced one dataset."""
    donor_ids = {d["uuid"] for d in spec["donors"]}
    rows, cells, sums = 0, 0, {}
    for i, ds in enumerate(spec["datasets"]):
        if ds["uuid"] not in donor_ids:
            continue
        kept, both = _kept(ds)
        cells += len(both)
        for m, (rws, mat) in kept.items():
            nnz, total = _sums(mat, rws)
            rows += nnz
            if i == spec["refresh"]:
                total = _sums(spec["redo"][m], rws)[1]
            sums[f"{m}/{ds['uuid']}"] = total
    big = spec["datasets"][spec["big"]]
    kept, _ = _kept(big)
    pruned = _sums(kept["gene"][1], kept["gene"][0])[0]
    return {"fact_rows": rows, "total_cell_count": cells,
            "pruned_rows": pruned, "sums_after_refresh": sums}


def write_product_staging(spec, out_dir):
    """Stage the matrices as raw little-endian arrays plus a manifest the
    JVM side turns into h5ad files; write the donor TSV."""
    os.makedirs(out_dir, exist_ok=True)
    names = []

    def stage(name, mat, var_names):
        base = os.path.join(out_dir, name)
        with open(base + ".obs", "w") as f:
            f.write("\n".join(mat["obs"]))
        with open(base + ".var", "w") as f:
            f.write("\n".join(var_names))
        mat["data"].astype("<f8").tofile(base + ".data")
        mat["indices"].astype("<i8").tofile(base + ".indices")
        mat["indptr"].astype("<i8").tofile(base + ".indptr")
        names.append(name)

    for ds in spec["datasets"]:
        for m in ("bin", "gene"):
            stage(f"{ds['uuid']}.{m}", ds[m], spec["vars"][m])
    uuid = spec["datasets"][spec["refresh"]]["uuid"]
    for m in ("bin", "gene"):
        stage(f"{uuid}.{m}.v2", spec["redo"][m], spec["vars"][m])
    with open(os.path.join(out_dir, "manifest.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(out_dir, "donors.tsv"), "w") as f:
        f.write("uuid\thubmap_id\tage\tsex\n")
        for d in spec["donors"]:
            f.write(f"{d['uuid']}\t{d['hubmap_id']}\t{d['age'] or ''}\t{d['sex']}\n")
