"""Seeded generator for the six store-KPI datasets (FIXTURES.md A2-A7)
plus the generic config's input, with the dirt the real BI exports carry:
padded store keys, five month formats, thousands separators, null tokens,
alias headers and padded " 2025" years.

`generate(dir, seed)` writes the CSVs and returns the clean model: every
row as the values it stands for, which `checks.py` turns into expected
outputs without going through the code under test.
"""
import csv
import io
import random
from pathlib import Path

KEY = "商店序號"
BINDS = "區間綁定推薦人人數.csv"
CUM = "累計至今綁定推薦人人數.csv"
MEM = "14-1.會員成長趨勢_新增註冊會員數卡片.csv"
FP_MONTH = "門市首購人數_月份.csv"
FP_BRANCH = "門市首購人數_門市.csv"
BRANCH_BINDS = "各門市累計綁定人數.csv"
GENERIC = "generic_sales.csv"
GENERIC_MONTHS = ["2025-01", "2025-02", "2025-03"]
NULL_TOKENS = ["nan", "NULL", "NaN", "None", ""]

# rows per fact file; the small dimension files scale with the store count
SIZES = {"binds": 30000, "fp_month": 8000, "fp_branch": 8000,
         "branch_binds": 8000, "generic": 8000}


def _store(r, s):
    return r.choice([s, s, s, f" {s}", f"{s} ", f"  {s} "])


def _month(r, year, m):
    y = year.strip()
    return r.choice([str(m), f"{m:02d}", f"{y}{m:02d}", f"{y}-{m:02d}", f"{y}/{m:02d}"])


def _number(r, v):
    """Render a count; None (missing) becomes a null token."""
    if v is None:
        return r.choice(NULL_TOKENS)
    return f"{v:,}" if v >= 1000 and r.random() < 0.6 else str(v)


def _value(r, hi, p_null=0.03):
    return None if r.random() < p_null else r.randint(0, hi)


def _write(path, header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    path.write_text(buf.getvalue(), encoding="utf-8")


def generate(out_dir, seed, n_stores=150, sizes=SIZES):
    """Write the inputs under `out_dir` (the AggregateMain --input-dir
    layout: six files in `aggregate/`, the generic file at the root) and
    return the clean model."""
    r = random.Random(seed)
    out = Path(out_dir)
    agg = out / "aggregate"
    agg.mkdir(parents=True, exist_ok=True)
    stores = [f"S{i}" for i in range(1, n_stores + 1)]
    # a tenth of the stores has no current-year binds (dropped by 23-1/24-1)
    prev_only = set(r.sample(stores, n_stores // 10))
    model = {}

    binds = []
    for _ in range(sizes["binds"]):
        s = r.choice(stores)
        year = "2024" if s in prev_only else r.choice(["2024", "2025"])
        if r.random() < 0.03:
            year = " 2025"  # padded: every config compares raw year strings
        binds.append((s, year, r.randint(1, 12), _value(r, 3000)))
    model["binds"] = binds
    _write(agg / BINDS, [KEY, "年度", "月份", "總綁定"],
           [(_store(r, s), y, _month(r, y, m), _number(r, v)) for s, y, m, v in binds])

    cum = [(s, _value(r, 50000)) for s in stores if r.random() < 0.9
           for _ in range(r.randint(1, 3))]
    model["cum"] = cum
    _write(agg / CUM, [KEY, "累計至今推薦人綁定人數"],
           [(_store(r, s), _number(r, v)) for s, v in cum])

    mem = [(s, _value(r, 200000, p_null=0.05)) for s in stores if r.random() < 0.95]
    model["mem"] = mem
    _write(agg / MEM, [KEY, "總會員數"], [(_store(r, s), _number(r, v)) for s, v in mem])

    fp_month = [(r.choice(stores), r.randint(1, 12), _value(r, 500))
                for _ in range(sizes["fp_month"])]
    model["fp_month"] = fp_month
    month_col = r.choice(["月份", "Established At Month", "month"])
    _write(agg / FP_MONTH, [KEY, month_col, "門市首購人數"],
           [(_store(r, s), _month(r, "2025", m), _number(r, v)) for s, m, v in fp_month])

    branches = {s: [f"{s}-門市{k:02d}" for k in range(1, r.randint(3, 12) + 1)]
                for s in stores}

    def branch(s):
        # None: a null-token branch cell, which every 25-x config drops
        return None if r.random() < 0.02 else r.choice(branches[s])

    fp_branch = [(s, branch(s), _value(r, 400))
                 for s in (r.choice(stores) for _ in range(sizes["fp_branch"]))]
    model["fp_branch"] = fp_branch
    name_col = r.choice(["門市名稱", "門市", "Store Name"])
    _write(agg / FP_BRANCH, [KEY, name_col, "門市首購人數"],
           [(_store(r, s), b if b else r.choice(NULL_TOKENS), _number(r, v))
            for s, b, v in fp_branch])

    branch_binds = [(s, branch(s), r.choice(["2025", "2025", "2024", " 2025"]), _value(r, 300))
                    for s in (r.choice(stores) for _ in range(sizes["branch_binds"]))]
    model["branch_binds"] = branch_binds
    name_col2 = r.choice(["門市名稱", "門市", "Store Name"])
    _write(agg / BRANCH_BINDS, [name_col2, KEY, "年度", "總綁定數"],
           [(b if b else r.choice(NULL_TOKENS), _store(r, s), y, _number(r, v))
            for s, b, y, v in branch_binds])

    # generic path: raw month strings and bare numeric parsing, so a
    # thousands-separated amount is unparseable there and counts as 0
    raw_months = GENERIC_MONTHS + ["2025/01", "202502", "2025-04", "2025-05"]
    generic = []
    for _ in range(sizes["generic"]):
        v = _value(r, 5000)
        text = _number(r, v)
        generic.append((r.choice(stores), r.choice(raw_months), text))
    model["generic"] = generic
    _write(out / GENERIC, ["store_id", "month", "amount"], generic)
    (out / "generic.args").write_text(
        f"--input-file {GENERIC} --store-col store_id --month-col month "
        f"--target-col amount --months {','.join(GENERIC_MONTHS)}\n", encoding="utf-8")
    model["presence"] = [r.choice(stores)]
    (out / "presence_stores.txt").write_text("\n".join(model["presence"]) + "\n",
                                             encoding="utf-8")
    return model
