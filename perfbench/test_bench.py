"""The benchmark's own tests: generator determinism and that each output
check fails on a corrupted output. No Spark needed.

    python3 perfbench/test_bench.py
"""
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import checks  # noqa: E402
import kpigen  # noqa: E402

SCRATCH = Path.cwd() / ".bench_build"
SMALL = {"binds": 800, "fp_month": 200, "fp_branch": 200, "branch_binds": 200, "generic": 200}


def tree_bytes(d):
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(Path(d).rglob("*")) if p.is_file()}


def render(v):
    return "" if v is None else str(v)


def write_kpi_outputs(model, out):
    """Outputs in the shape AggregateMain writes: {store}/{cfg}.csv, BOM."""
    for cfg, per_store in checks.expected_kpi(model).items():
        cols = checks.HEADERS[cfg]
        for store, rows in per_store.items():
            lines = [",".join(cols)]
            for r in rows:
                cells = []
                for c in cols:
                    v = r[c]
                    if c in checks.PCT:
                        cells.append('""' if v is None else f"{round(v * 100, 2):.2f}%")
                    elif c in checks.TEXT or c == "月份":
                        cells.append(str(v))
                    else:
                        cells.append(repr(float(v)))
                lines.append(",".join(cells))
            d = out / store
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{cfg}.csv").write_text("﻿" + "\n".join(lines) + "\n", encoding="utf-8")


class BenchTest(unittest.TestCase):
    def setUp(self):
        SCRATCH.mkdir(exist_ok=True)
        self.tmp = Path(tempfile.mkdtemp(dir=SCRATCH, prefix="test-"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_kpigen_is_seeded(self):
        a, b, c = (self.tmp / n for n in "abc")
        kpigen.generate(a, 7, n_stores=12, sizes=SMALL)
        kpigen.generate(b, 7, n_stores=12, sizes=SMALL)
        kpigen.generate(c, 8, n_stores=12, sizes=SMALL)
        self.assertEqual(tree_bytes(a), tree_bytes(b))
        self.assertNotEqual(tree_bytes(a), tree_bytes(c))

    def test_kpigen_carries_the_dirt(self):
        kpigen.generate(self.tmp, 3, n_stores=12, sizes=SMALL)
        text = "".join(p.read_text(encoding="utf-8") for p in self.tmp.rglob("*.csv"))
        for dirt in (" S", "2025-", "2025/", '"1,', "nan", "NULL", " 2025"):
            self.assertIn(dirt, text)

    def _fanout_layout(self):
        inp, out = self.tmp / "in", self.tmp / "out"
        inp.mkdir()
        rows = [("S1", "a"), ("S2", "b"), ("S1", "c"), (" ", "blank"), ("S3", "d")]
        (inp / "data_00.csv").write_text(
            "Report Generated,2025-01-01\nx,商店序號\n" +
            "".join(f"{v},{k}\n" for k, v in rows), encoding="utf-8")
        for k in ("S1", "S2", "S3"):
            (out / k).mkdir(parents=True)
            body = "".join(f"{v},{k}\n" for kk, v in rows if kk == k)
            (out / k / "data_00.csv").write_text(
                "﻿Report Generated,2025-01-01\nx,商店序號\n" + body, encoding="utf-8")
        return inp, out

    def test_fanout_check_passes_on_a_correct_layout(self):
        inp, out = self._fanout_layout()
        self.assertEqual(checks.check_fanout(inp, out), [])

    def test_fanout_check_catches_a_moved_row(self):
        inp, out = self._fanout_layout()
        s1, s2 = out / "S1" / "data_00.csv", out / "S2" / "data_00.csv"
        lines = s1.read_text(encoding="utf-8").splitlines(keepends=True)
        s1.write_text("".join(lines[:-1]), encoding="utf-8")
        s2.write_text(s2.read_text(encoding="utf-8") + lines[-1], encoding="utf-8")
        self.assertTrue(checks.check_fanout(inp, out))

    def test_kpi_check_passes_on_expected_outputs(self):
        model = kpigen.generate(self.tmp / "in", 5, n_stores=12, sizes=SMALL)
        write_kpi_outputs(model, self.tmp / "out")
        self.assertEqual(checks.check_kpi(model, self.tmp / "out"), [])

    def test_kpi_check_catches_a_changed_value(self):
        model = kpigen.generate(self.tmp / "in", 5, n_stores=12, sizes=SMALL)
        out = self.tmp / "out"
        write_kpi_outputs(model, out)
        f = next(out.glob("*/23-2.csv"))
        lines = f.read_text(encoding="utf-8").splitlines()
        cells = lines[3].split(",")
        cells[2] = repr(float(cells[2]) + 1)
        lines[3] = ",".join(cells)
        f.write_text("\n".join(lines) + "\n", encoding="utf-8")
        self.assertTrue(checks.check_kpi(model, out))

    def test_kpi_check_catches_a_missing_store_file(self):
        model = kpigen.generate(self.tmp / "in", 5, n_stores=12, sizes=SMALL)
        out = self.tmp / "out"
        write_kpi_outputs(model, out)
        next(out.glob("*/25-1.csv")).unlink()
        self.assertTrue(checks.check_kpi(model, out))

    def test_presence_check(self):
        model = kpigen.generate(self.tmp, 5, n_stores=12, sizes=SMALL)
        store = model["presence"][0]
        n = sum(1 for row in model["binds"] if row[0] == store)
        desc = "23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）"
        ok = [f"presence {store} [OK ] {desc}: rows={n}"]
        self.assertEqual(checks.check_presence(model, ok), [])
        bad = [f"presence {store} [OK ] {desc}: rows={n + 1}"]
        self.assertTrue(checks.check_presence(model, bad))


if __name__ == "__main__":
    unittest.main()
