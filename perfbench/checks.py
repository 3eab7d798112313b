"""Output checks that do not go through the code under test.

Each check returns a list of problems; an empty list means the output is
correct. The fan-out check counts rows with plain CSV parsing; the KPI
check recomputes every config from the generator's clean model.
"""
import csv
import re
from collections import Counter, defaultdict
from pathlib import Path

import kpigen

FANOUT_KEY = "商店序號"


def _rows(path, encoding="utf-8"):
    with open(path, newline="", encoding=encoding) as f:
        return list(csv.reader(f))


def _header_at(rows, key):
    for i, row in enumerate(rows):
        if key in [c.strip() for c in row]:
            return i
    raise ValueError(f"no header with {key!r}")


def fanout_counts(input_dir, key=FANOUT_KEY):
    """(store, source) -> data rows with a non-blank key, per input file."""
    counts = Counter()
    for f in sorted(Path(input_dir).glob("*.csv")):
        rows = _rows(f)
        h = _header_at(rows, key)
        k = [c.strip() for c in rows[h]].index(key)
        for row in rows[h + 1:]:
            if len(row) > k and row[k].strip():
                counts[(row[k].strip(), f.stem)] += 1
    return counts


def check_fanout(input_dir, out_dir, key=FANOUT_KEY):
    want = fanout_counts(input_dir, key)
    got = Counter()
    problems = []
    for f in sorted(Path(out_dir).glob("*/*.csv")):
        rows = _rows(f, "utf-8-sig")
        h = _header_at(rows, key)
        k = [c.strip() for c in rows[h]].index(key)
        store = f.parent.name
        for row in rows[h + 1:]:
            if len(row) <= k or row[k].strip() != store:
                problems.append(f"{f.relative_to(out_dir)}: row keyed {row[k:k + 1]} in {store}/")
            got[(store, f.stem)] += 1
    for pair in sorted(set(want) | set(got)):
        if want[pair] != got[pair]:
            problems.append(f"store {pair[0]} source {pair[1]}: {got[pair]} rows, want {want[pair]}")
    return problems


def fanout_sizes(input_dir, out_dir):
    """(input rows, input bytes, output bytes, output files)."""
    ins = list(Path(input_dir).glob("*.csv"))
    outs = list(Path(out_dir).glob("*/*.csv"))
    rows = sum(fanout_counts(input_dir).values())
    return rows, sum(f.stat().st_size for f in ins), sum(f.stat().st_size for f in outs), len(outs)


# ------------------------------------------------------------------ KPI oracle

_BARE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _z(v):
    return 0.0 if v is None else float(v)


def _div(n, d):
    return None if not d else n / d


def _yoy(cur, prev):
    return _div(cur - prev, prev)


def expected_kpi(model):
    """config -> {store: [row dict, ...]} as the reference defines them."""
    S = kpigen.KEY
    binds = [(s, y, m, _z(v)) for s, y, m, v in model["binds"]]
    cum = defaultdict(float)
    for s, v in model["cum"]:
        cum[s] += _z(v)
    mem = defaultdict(float)
    for s, v in model["mem"]:
        mem[s] += _z(v)

    cur, prev = defaultdict(float), defaultdict(float)
    has_cur = set()
    for s, y, m, v in binds:
        if y == "2025":
            cur[s] += v
            has_cur.add(s)
        elif y == "2024":
            prev[s] += v
    e = {}
    rows23 = {s: [{S: s, "區間推薦人綁定人數": cur[s], "區間推薦人綁定人數 YoY": _yoy(cur[s], prev[s]),
                   "推薦人綁定率": _div(cum[s], mem[s])}] for s in has_cur}
    e["23-1"] = rows23
    e["24-1"] = rows23  # every generated month parses, so 24-1 sums the same rows

    by_month = defaultdict(float)
    seen = set()
    for s, y, m, v in binds:
        if y in ("2024", "2025"):
            by_month[(s, y, m)] += v
            seen.add(s)
    e["23-2"] = {s: [{S: s, "月份": m, "2024年": by_month[(s, "2024", m)],
                      "2025年": by_month[(s, "2025", m)],
                      "推薦人新綁定數 YoY": _yoy(by_month[(s, "2025", m)], by_month[(s, "2024", m)])}
                     for m in range(1, 13)] for s in seen}

    fp = defaultdict(float)
    for s, m, v in model["fp_month"]:
        fp[(s, m)] += _z(v)
    e24 = defaultdict(list)
    for (s, m), f in fp.items():
        b = by_month[(s, "2025", m)]
        e24[s].append({S: s, "月份": m, "門市首購人數": f, "推薦人綁定數": b,
                       "推薦人綁定率": _div(b, f)})
    e["24-2"] = dict(e24)

    fpb = defaultdict(float)
    for s, b, v in model["fp_branch"]:
        if b is not None:
            fpb[(s, b)] += _z(v)
    bb = defaultdict(float)
    for s, b, y, v in model["branch_binds"]:
        if b is not None and y == "2025":
            bb[(s, b)] += _z(v)
    per_store = defaultdict(list)
    for (s, b), f in fpb.items():
        per_store[s].append({S: s, "門市名稱": b, "門市首購人數": f, "推薦人綁定人數": bb[(s, b)],
                             "佔比": _div(bb[(s, b)], f)})
    for cfg, sign in (("25-1", -1), ("25-2", 1)):
        e[cfg] = {s: sorted(rows, key=lambda x: (x["佔比"] is None, sign * (x["佔比"] or 0),
                                                 x["門市名稱"]))[:5]
                  for s, rows in per_store.items()}

    tot = defaultdict(float)
    for s, m, text in model["generic"]:
        if m in kpigen.GENERIC_MONTHS:
            t = text.strip()
            tot[s] += float(t) if _BARE.match(t) else 0.0
    e[Path(kpigen.GENERIC).stem] = {s: [{"store_id": s, "total": v}] for s, v in tot.items()}
    return e


HEADERS = {
    "23-1": [kpigen.KEY, "區間推薦人綁定人數", "區間推薦人綁定人數 YoY", "推薦人綁定率"],
    "23-2": [kpigen.KEY, "月份", "2024年", "2025年", "推薦人新綁定數 YoY"],
    "24-1": [kpigen.KEY, "推薦人綁定率", "區間推薦人綁定人數", "區間推薦人綁定人數 YoY"],
    "24-2": [kpigen.KEY, "月份", "門市首購人數", "推薦人綁定數", "推薦人綁定率"],
    "25-1": [kpigen.KEY, "門市名稱", "門市首購人數", "推薦人綁定人數", "佔比"],
    "25-2": [kpigen.KEY, "門市名稱", "門市首購人數", "推薦人綁定人數", "佔比"],
    Path(kpigen.GENERIC).stem: ["store_id", "total"],
}
PCT = {"區間推薦人綁定人數 YoY", "推薦人綁定率", "推薦人新綁定數 YoY", "佔比"}
TEXT = {kpigen.KEY, "store_id", "門市名稱"}


def _same(col, got, want):
    if col in TEXT:
        return got == want
    if col in PCT:
        if want is None:
            return got == ""
        # two-decimal percent, rounded half away from zero
        return got.endswith("%") and abs(float(got[:-1]) - want * 100) <= 0.0051
    try:
        return float(got) == float(want)
    except ValueError:
        return False


def check_kpi(model, out_dir):
    problems = []
    out = Path(out_dir)
    for cfg, want in expected_kpi(model).items():
        files = {f.parent.name: f for f in out.glob(f"*/{cfg}.csv")}
        if set(files) != set(want):
            problems.append(f"{cfg}: stores {sorted(set(files) ^ set(want))[:5]} differ")
        for store in sorted(set(files) & set(want)):
            rows = _rows(files[store], "utf-8-sig")
            if not rows or rows[0] != HEADERS[cfg]:
                problems.append(f"{cfg}/{store}: header {rows[:1]}")
                continue
            got = [dict(zip(rows[0], r)) for r in rows[1:]]
            exp = want[store]
            if cfg == "23-2" and len(got) != 12:
                problems.append(f"23-2/{store}: {len(got)} months, want 12")
            if cfg.startswith("25-") and len(got) > 5:
                problems.append(f"{cfg}/{store}: {len(got)} branches, want at most 5")
            idcols = HEADERS[cfg][:2] if cfg in ("23-2", "24-2", "25-1", "25-2") else HEADERS[cfg][:1]
            key = lambda r: tuple(str(r[c]) for c in idcols)
            gmap, emap = {key(r): r for r in got}, {key(r): r for r in exp}
            if set(gmap) != set(emap) or len(got) != len(exp):
                problems.append(f"{cfg}/{store}: rows {sorted(set(gmap) ^ set(emap))[:3]} differ")
                continue
            for k, e in emap.items():
                bad = [c for c in HEADERS[cfg] if not _same(c, gmap[k][c], e[c])]
                if bad:
                    problems.append(f"{cfg}/{store}/{k}: {bad[0]}={gmap[k][bad[0]]!r}, want {e[bad[0]]!r}")
    return problems


PRESENCE_FILES = {
    "23-1 / 23-2 / 24-1 / 24-2（區間推薦人綁定）": "binds",
    "23-1 / 24-1（累計推薦人綁定）": "cum",
    "23-1 / 24-1（會員總數）": "mem",
    "24-2（門市首購人數－月份）": "fp_month",
    "25-1 / 25-2（門市首購人數－門市）": "fp_branch",
    "25-1 / 25-2（各門市累計綁定）": "branch_binds",
}
_PRESENCE_LINE = re.compile(r"^presence (\S+) \[(OK |NONE)\] (.*): rows=(\d+)$")


def check_presence(model, notes):
    """PresenceMain's per-dataset row counts against the model's."""
    problems, seen = [], 0
    for line in notes:
        m = _PRESENCE_LINE.match(line)
        if not m:
            continue
        seen += 1
        store, mark, desc, n = m.group(1), m.group(2), m.group(3), int(m.group(4))
        want = sum(1 for row in model[PRESENCE_FILES[desc]] if row[0] == store)
        if n != want or (mark == "OK ") != (want > 0):
            problems.append(f"presence {store} {desc}: [{mark}] rows={n}, want {want}")
    if seen == 0:
        problems.append("presence printed no dataset lines")
    return problems
