"""Unit tests for the input generators and their closed-form expectations.
Run from the repository root: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def long_form(spec, redo=False):
    """Brute-force expansion of every matrix into (modality, dataset, cell,
    value) rows, independent of product_expectations."""
    out = []
    for i, ds in enumerate(spec["datasets"]):
        for m in ("bin", "gene"):
            mat = spec["redo"][m] if redo and i == spec["refresh"] else ds[m]
            for r, cell in enumerate(mat["obs"]):
                for k in range(mat["indptr"][r], mat["indptr"][r + 1]):
                    out.append((m, ds["uuid"], cell, float(mat["data"][k])))
    return out


class ProductSpecTest(unittest.TestCase):
    def setUp(self):
        self.spec = gen.product_spec(seed=5, nproc=6, median_cells=40, n_bins=200, n_genes=80)

    def test_shape(self):
        for seed in range(12):
            with self.subTest(seed=seed):
                self.check_shape(gen.product_spec(
                    seed=seed, nproc=6, median_cells=40, n_bins=200, n_genes=80))

    def check_shape(self, s):
        sizes = [len(d["bin"]["obs"]) for d in s["datasets"]]
        self.assertGreaterEqual(len(sizes), 2 * 6)
        self.assertGreaterEqual(max(sizes), 3 * sorted(sizes)[len(sizes) // 2])
        for d in s["datasets"]:
            n, g = len(d["bin"]["obs"]), len(d["gene"]["obs"])
            self.assertEqual(g, n - n // 10)
            for m in ("bin", "gene"):
                ptr = d[m]["indptr"]
                self.assertTrue(all(ptr[i + 1] > ptr[i] for i in range(len(ptr) - 1)))
        donors = {d["uuid"] for d in s["donors"]}
        self.assertEqual(len(donors), len(sizes) - 1)
        self.assertNotIn(s["datasets"][s["absent"]]["uuid"], donors)
        self.assertEqual(sum(d["age"] is None for d in s["donors"]), 1)
        self.assertIn(s["datasets"][s["refresh"]]["uuid"], donors)
        self.assertIn(s["datasets"][s["big"]]["uuid"], donors)
        self.assertNotEqual(s["refresh"], s["big"])

    def test_expectations_match_brute_force(self):
        s = self.spec
        donors = {d["uuid"] for d in s["donors"]}
        e = gen.product_expectations(s)
        rows = long_form(s, redo=True)
        both = {(d, c) for m, d, c, _ in rows if m == "gene"}
        kept = [r for r in rows if r[1] in donors and (r[1], r[2]) in both]
        self.assertEqual(e["fact_rows"], len(kept))
        self.assertEqual(e["total_cell_count"], len({(d, c) for _, d, c, _ in kept}))
        sums = {}
        for m, d, _, v in kept:
            sums[f"{m}/{d}"] = sums.get(f"{m}/{d}", 0.0) + v
        self.assertEqual(e["sums_after_refresh"], sums)
        big = s["datasets"][s["big"]]["uuid"]
        self.assertEqual(e["pruned_rows"], sum(
            1 for m, d, c, _ in long_form(s) if m == "gene" and d == big and (d, c) in both))

    def test_seeded(self):
        again = gen.product_spec(seed=5, nproc=6, median_cells=40, n_bins=200, n_genes=80)
        self.assertEqual(gen.product_expectations(again), gen.product_expectations(self.spec))
        other = gen.product_spec(seed=6, nproc=6, median_cells=40, n_bins=200, n_genes=80)
        self.assertNotEqual(gen.product_expectations(other), gen.product_expectations(self.spec))


class TablesTest(unittest.TestCase):
    def test_row_counts_do_not_depend_on_the_seed(self):
        a, b = gen.table_arrays(1, 0.001), gen.table_arrays(2, 0.001)
        for name in a:
            n = {len(col) for col in a[name].values()}
            self.assertEqual(len(n), 1, name)
            self.assertEqual(n, {len(col) for col in b[name].values()}, name)
        self.assertNotEqual(a["lineitem"]["l_extendedprice"], b["lineitem"]["l_extendedprice"])
        self.assertEqual(a["lineitem"]["l_extendedprice"],
                         gen.table_arrays(1, 0.001)["lineitem"]["l_extendedprice"])

    def test_documents_carry_near_duplicates(self):
        docs = gen.table_arrays(3, 0.01)["documents"]["text"].to_pylist()
        base = set(docs)
        near = [d for d in docs if d.endswith(" dup") and d[:-4] in base]
        self.assertGreaterEqual(len(near), len(docs) // 25)


if __name__ == "__main__":
    unittest.main()
