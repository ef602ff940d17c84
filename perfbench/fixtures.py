"""Seeded benchmark inputs: the parquet tables the queries scan and the
xlsx workbooks the converter reads, plus the expected converter output.

Everything is a pure function of ``(seed, shape)``: the same seed gives
byte-identical files. Inputs are cached under the work directory keyed
by seed and shape; ``manifest.json`` is written last and marks a
complete cache entry.

The tables follow the schemas and value domains of the engine's
synthetic star schema (TPC-H-like fact/dimension tables plus ``events``,
``documents`` and ``embeddings``). Row counts scale with ``sf`` so that
the same seed-independent work is done by every seed.

The workbooks are written the way Excel writes them: a ``dimension``
element, ``r`` attributes on every row and cell, and (for the glob set)
a shared-strings table plus number and date styles. The expected NDJSON
is rendered here independently of the converter, from the values the
generator drew, so the sha256 check compares two separate derivations.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ tables

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("hot", "large", "small", "red", "blue", "green", "old", "new")
_PART_NOUN = ("ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate")
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "de", "es", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_DUP_SHARE = 0.05  # documents that are a copy of another plus " dup"

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi] as naive timestamp[us]."""
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int)) + 1
    days = d0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, domain, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)])


def _table_counts(sf: float) -> dict[str, int]:
    orders = int(1_500_000 * sf)
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = _table_counts(sf)
    # one independent stream per table, so resizing one table leaves the
    # others' contents unchanged
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(sorted(n))}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, k)),
            "c_mktsegment": _pick(r, _SEGMENTS, k),
        }
    )
    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
            "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, k)),
        }
    )
    r, k = rngs["part"], n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
            "p_name": pa.array(
                [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
            "p_type": _pick(r, _PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0),
        }
    )
    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], k, dtype=np.int64)),
            "o_orderstatus": _pick(r, _STATUSES, k),
            "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, k)),
            "o_orderdate": _days("1995-01-01", "2001-08-01", r, k),
            "o_orderpriority": _pick(r, _PRIORITIES, k),
        }
    )
    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], k, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, k)),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(r, ("A", "N", "R"), k),
            "l_linestatus": _pick(r, ("F", "O"), k),
            "l_shipdate": _days("1995-01-02", "2001-11-04", r, k),
        }
    )
    r, k = rngs["events"], n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, k)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH_US
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(15, k // 67), k, dtype=np.int64)),
            "event_type": _pick(r, _EVENT_TYPES, k),
            "value": pa.array(np.round(r.gamma(2.0, 30.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
        }
    )
    r, k = rngs["documents"], n["documents"]
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(vocab), m)]) for m in r.integers(10, 101, k)]
    n_dup = int(k * _DUP_SHARE)
    dup_ids = r.choice(k, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(k), dup_ids)
    for d, src in zip(dup_ids, r.choice(originals, n_dup)):
        texts[d] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(r, _LANGS, k, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    r, k = rngs["embeddings"], n["embeddings"]
    v = r.standard_normal((k, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (k + 1) * _EMB_DIM, _EMB_DIM, dtype=np.int32)),
                pa.array(v.reshape(-1)),
            ),
            "label": pa.array(r.integers(0, 10, k).astype(np.int32)),
        }
    )
    return out


# ------------------------------------------------------------------ xlsx

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "{extra}</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_REL = (
    '<Relationship Id="rId{i}" '
    'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/{kind}" '
    'Target="{target}"/>'
)
_SHEET_HEAD = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<dimension ref="A1:{last}"/><sheetData>'
)
_SHEET_TAIL = "</sheetData></worksheet>"
_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

_CITIES = ("Москва", "Kazan", "Perm", "Омск", "Tver", "Sochi", "Тула", "Ufa")
_SIX_LETTER = (
    "binder", "bucket", "cotton", "drawer", "filter", "gasket", "hammer", "ladder",
    "magnet", "nozzle", "pillow", "rubber", "saucer", "shovel", "washer", "zipper",
    "кабель", "молоко", "пружин", "стекло",
)
_BRANDS = ("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay")
_CATEGORIES = ("tools", "garden", "kitchen", "office", "toys", "sport", "auto")
_NAMES = ("Дрель", "Молоток", "Hammer", "Saw", "Отвёртка", "Wrench", "Пила", "Drill")
_NOTES = (
    'size "XL", steel & wood',
    "fits 10, 12 and 14 mm",
    "Гарантия 2 года",
    "<clearance> item",
    "back-order; ships in 3 weeks",
)

_CHUNK_ROWS = 20_000
_CACHE_KEEP = 12  # cached input sets per kind (at most about 15 MB each)
_EXCEL_EPOCH = dt.date(1899, 12, 30)  # serial 0 for dates after 1900-03-01


def _col(j: int) -> str:
    return chr(ord("A") + j)


def _q(values) -> list[str]:
    """JSON string literals (the escaping Spark's JSON writer applies)."""
    return [json.dumps(v, ensure_ascii=False) for v in values]


def _general(cents: np.ndarray) -> list[str]:
    """Excel General rendering of 2-decimal amounts given in cents; the
    same text is what the cell's ``<v>`` holds."""
    return [str(c // 100) if c % 100 == 0 else repr(c / 100) for c in cents.tolist()]


class _Expected:
    """Running row count and sha256 of the NDJSON the converter must write."""

    def __init__(self) -> None:
        self.rows = 0
        self.sha = hashlib.sha256()
        self.bytes = 0

    def add(self, lines: list[str]) -> None:
        b = "".join(lines).encode()
        self.sha.update(b)
        self.bytes += len(b)
        self.rows += len(lines)


def _write_zip(path: str, sheet_name: str, sheet_chunks, extra_parts: dict[str, str]) -> int:
    """Write one workbook; ``sheet_chunks`` yields sheet XML text. Returns
    the sheet XML size in bytes."""
    extra_types = {
        "xl/sharedStrings.xml": "application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml",
        "xl/styles.xml": "application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml",
    }
    overrides = "".join(
        f'<Override PartName="/{p}" ContentType="{extra_types[p]}"/>' for p in extra_parts
    )
    rels = [_REL.format(i=1, kind="worksheet", target="worksheets/sheet1.xml")]
    for i, part in enumerate(extra_parts, start=2):
        kind = "sharedStrings" if part.endswith("sharedStrings.xml") else "styles"
        rels.append(_REL.format(i=i, kind=kind, target=part.split("/", 1)[1]))
    size = 0
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(extra=overrides))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK.format(name=sheet_name))
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(rels)
            + "</Relationships>",
        )
        for part, text in extra_parts.items():
            zf.writestr(part, text)
        with zf.open("xl/worksheets/sheet1.xml", "w") as f:
            for chunk in sheet_chunks:
                b = chunk.encode()
                f.write(b)
                size += len(b)
    os.replace(tmp, path)
    return size


# The single big sheet: inline strings and General numbers (what
# streaming writers emit), with a long free-text column. Fields are
# fixed-width so the sheet XML size, and with it the slice count, is the
# same for every seed.
_BIG_HEADER = ("id", "sku", "city", "amount", "qty", "description")
_DESC_WORDS = 64  # six-letter words per description
_DESC_POOL = 4096  # distinct descriptions per workbook


def _big_sheet_chunks(rng: np.random.Generator, n_rows: int, exp: _Expected):
    yield _SHEET_HEAD.format(last=f"F{n_rows + 1}")
    yield '<row r="1">' + "".join(
        f'<c r="{_col(j)}1" t="inlineStr"><is><t>{h}</t></is></c>'
        for j, h in enumerate(_BIG_HEADER)
    ) + "</row>"
    k = _q(_BIG_HEADER)
    words = np.array(_SIX_LETTER, dtype=object)
    picks = rng.integers(0, len(words), (_DESC_POOL, _DESC_WORDS))
    pool = [" ".join(r) for r in words[picks].tolist()]
    for lo in range(0, n_rows, _CHUNK_ROWS):
        m = min(_CHUNK_ROWS, n_rows - lo)
        ids = range(lo, lo + m)
        sku = [f"SKU-{x:08d}" for x in rng.integers(0, 10**8, m).tolist()]
        city = [_CITIES[x] for x in rng.integers(0, len(_CITIES), m).tolist()]
        amount = _general(rng.integers(10_000, 10_000_000, m))
        qty = rng.integers(1, 1000, m).tolist()
        desc = [pool[x] for x in rng.integers(0, len(pool), m).tolist()]
        cols = list(zip(ids, sku, city, amount, qty, desc))
        yield "".join(
            f'<row r="{i + 2}"><c r="A{i + 2}"><v>{i}</v></c>'
            f'<c r="B{i + 2}" t="inlineStr"><is><t>{s}</t></is></c>'
            f'<c r="C{i + 2}" t="inlineStr"><is><t>{c}</t></is></c>'
            f'<c r="D{i + 2}"><v>{a}</v></c><c r="E{i + 2}"><v>{q}</v></c>'
            f'<c r="F{i + 2}" t="inlineStr"><is><t>{d}</t></is></c></row>'
            for i, s, c, a, q, d in cols
        )
        # every value is free of characters JSON escapes
        exp.add(
            [
                f'{{{k[0]}:"{i}",{k[1]}:"{s}",{k[2]}:"{c}",{k[3]}:"{a}",'
                f'{k[4]}:"{q}",{k[5]}:"{d}"}}\n'
                for i, s, c, a, q, d in cols
            ]
        )
    yield _SHEET_TAIL


# The glob workbooks: shared strings and styled numbers, as Excel saves.
_GLOB_HEADER = ("sku", "name", "brand", "category", "price", "qty", "updated_at", "description")
# cellXfs: 0 General, 1 "0.00" (builtin 2), 2 "#,##0" (builtin 3),
# 3 "yyyy-mm-dd" (custom 164)
_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<styleSheet xmlns="{_MAIN_NS}">'
    '<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>'
    '<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="2" applyNumberFormat="1"/>'
    '<xf numFmtId="3" applyNumberFormat="1"/><xf numFmtId="164" applyNumberFormat="1"/>'
    "</cellXfs></styleSheet>"
)
_GLOB_DAY0 = dt.date(2015, 1, 1)
_GLOB_DAYS = 3650


def _glob_workbook(path: str, rng: np.random.Generator, n_rows: int, exp: _Expected) -> int:
    # shared-strings table: header, then the small domains, then the
    # per-row SKUs; json_of[i] is the NDJSON literal of string i
    strings = list(_GLOB_HEADER) + list(_NAMES) + list(_BRANDS) + list(_CATEGORIES) + list(_NOTES)
    base = {s: i for i, s in enumerate(strings)}
    sku = [f"P{x:07d}" for x in rng.integers(0, 10**7, n_rows).tolist()]
    sku_idx = list(range(len(strings), len(strings) + n_rows))
    strings += sku
    json_of = _q(strings)

    def idx(domain, m):
        return [base[domain[x]] for x in rng.integers(0, len(domain), m).tolist()]

    name, brand, cat = idx(_NAMES, n_rows), idx(_BRANDS, n_rows), idx(_CATEGORIES, n_rows)
    cents = rng.integers(100, 10_000_000, n_rows)
    price_v = _general(cents)
    price_s = [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]
    qty = rng.integers(0, 2_000_000, n_rows).tolist()
    day = rng.integers(0, _GLOB_DAYS, n_rows).tolist()
    serial0 = (_GLOB_DAY0 - _EXCEL_EPOCH).days
    iso = [(_GLOB_DAY0 + dt.timedelta(days=d)).isoformat() for d in range(_GLOB_DAYS)]
    note = idx(_NOTES, n_rows)
    cols = list(
        zip(range(2, n_rows + 2), sku_idx, name, brand, cat, price_v, price_s, qty, day, note)
    )
    head = "".join(f'<c r="{_col(j)}1" t="s"><v>{j}</v></c>' for j in range(len(_GLOB_HEADER)))
    body = "".join(
        f'<row r="{r}"><c r="A{r}" t="s"><v>{s}</v></c><c r="B{r}" t="s"><v>{n}</v></c>'
        f'<c r="C{r}" t="s"><v>{b}</v></c><c r="D{r}" t="s"><v>{c}</v></c>'
        f'<c r="E{r}" s="1"><v>{pv}</v></c><c r="F{r}" s="2"><v>{q}</v></c>'
        f'<c r="G{r}" s="3"><v>{serial0 + d}</v></c><c r="H{r}" t="s"><v>{nt}</v></c></row>'
        for r, s, n, b, c, pv, ps, q, d, nt in cols
    )
    k = json_of[: len(_GLOB_HEADER)]
    exp.add(
        [
            f'{{{k[0]}:{json_of[s]},{k[1]}:{json_of[n]},{k[2]}:{json_of[b]},{k[3]}:{json_of[c]},'
            f'{k[4]}:"{ps}",{k[5]}:"{q:,}",{k[6]}:"{iso[d]}",{k[7]}:{json_of[nt]}}}\n'
            for r, s, n, b, c, pv, ps, q, d, nt in cols
        ]
    )
    sst_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_MAIN_NS}" count="{len(_GLOB_HEADER) + 5 * n_rows}" '
        f'uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    chunks = [
        _SHEET_HEAD.format(last=f"H{n_rows + 1}"),
        f'<row r="1">{head}</row>',
        body,
        _SHEET_TAIL,
    ]
    return _write_zip(
        path, "catalog", chunks, {"xl/sharedStrings.xml": sst_xml, "xl/styles.xml": _STYLES}
    )


# ------------------------------------------------------------------ cache


def _build(dst: str, build) -> dict:
    """Run ``build(tmpdir) -> manifest`` unless ``dst`` already holds a
    complete entry; publish atomically by directory rename."""
    manifest_path = os.path.join(dst, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = dst + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    _prune(dst, keep=_CACHE_KEEP)
    return manifest


def _prune(dst: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently built cache entries of
    ``dst``'s kind (the name up to the first ``-``)."""
    cache_dir, name = os.path.split(dst)
    kind = name.split("-", 1)[0] + "-"
    entries = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(kind) and os.path.exists(os.path.join(cache_dir, d, "manifest.json"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def tables(cache_dir: str, seed: int, sf: float) -> tuple[str, dict]:
    """Parquet tables for ``seed``; returns (directory, manifest)."""
    dst = os.path.join(cache_dir, f"tables-sf{sf:g}-seed{seed}")

    def build(tmp: str) -> dict:
        rows, size = {}, 0
        for name, t in _make_tables(seed, sf).items():
            p = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(t, p)
            rows[name] = t.num_rows
            size += os.path.getsize(p)
        return {"rows": rows, "bytes": size}

    return dst, _build(dst, build)


def workbooks(
    cache_dir: str, seed: int, big_rows: int, glob_files: int, glob_rows: int
) -> tuple[str, dict]:
    """The big single-sheet workbook and the glob set for ``seed``.

    Manifest keys: ``sheet``/``glob`` -> {path (relative), rows, sha256,
    ndjson_bytes, xlsx_bytes, sheet_xml_bytes}."""
    dst = os.path.join(cache_dir, f"xlsx-{big_rows}-{glob_files}x{glob_rows}-seed{seed}")

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 100])
        exp = _Expected()
        big = os.path.join(tmp, "big.xlsx")
        xml = _write_zip(big, "data", _big_sheet_chunks(rng, big_rows, exp), {})
        out = {
            "sheet": {
                "path": "big.xlsx",
                "rows": exp.rows,
                "sha256": exp.sha.hexdigest(),
                "ndjson_bytes": exp.bytes,
                "xlsx_bytes": os.path.getsize(big),
                "sheet_xml_bytes": xml,
            }
        }
        os.makedirs(os.path.join(tmp, "glob"))
        exp = _Expected()
        xml = size = 0
        for k in range(glob_files):
            p = os.path.join(tmp, "glob", f"part_{k:02d}.xlsx")
            xml += _glob_workbook(p, np.random.default_rng([seed, 200 + k]), glob_rows, exp)
            size += os.path.getsize(p)
        out["glob"] = {
            "path": "glob/part_*.xlsx",
            "rows": exp.rows,
            "sha256": exp.sha.hexdigest(),
            "ndjson_bytes": exp.bytes,
            "xlsx_bytes": size,
            "sheet_xml_bytes": xml,
        }
        return out

    return dst, _build(dst, build)
