"""Seeded inputs for the benchmark: the star-schema tables the registry
queries read, and Marvel-shape JSON batches for the ETL workload.

Everything here is a pure function of its seed. The table generator
mirrors the shape of the project's test tables (row counts per scale
factor, key ranges, value domains, ~5% near-duplicate documents), so
every deck query has real rows to return and a DuckDB oracle to match.

The ETL half also carries the *reference model*: a plain-Python
re-statement of the Marvel normalize rules and the selective-upsert
contract. The benchmark's correctness gate compares the table Spark
wrote against this model, so the model must not call into the program.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
_US = 1_000_000


def _day_ts(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    """n midnight timestamps drawn uniformly from [start, end]."""
    days = rng.integers(0, (end - start).days + 1, n)
    base = (start - dt.date(1970, 1, 1)).days
    return pa.array((base + days).astype("int64") * 86400 * _US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten input tables at scale factor ``sf`` (0.01 ≈ 60k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(np.concatenate([
            ck, rng.integers(0, n_cust, n_ord - n_cust)]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _day_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * _US
    span = 30 * 86400 * _US
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; ~5% are copies of an earlier document with
    one or two ' dup' tails, so the dedup families find real pairs."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" dup")[0]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# --- Marvel-shape ETL batches ------------------------------------------

MARVEL_COLUMNS = ("marvel_comic_id", "title", "issue_number", "onsale_date",
                  "price_cents", "isbn", "upc", "description", "cover_url",
                  "is_variant")
UPDATE_COLS = ("price_cents", "isbn", "upc", "description", "cover_url")
# Fixed composition of every batch: the seed changes ids and values,
# never these shares.
BATCH_MIX = {"update": 0.6, "new": 0.4}


def _maybe_blank(rng, value: str) -> str | None:
    """A text field as the API sends it: mostly set (sometimes padded),
    sometimes NULL, sometimes blank."""
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.14:
        return "   "
    if r < 0.20:
        return f"  {value} "
    return value


def marvel_record(rng, comic_id: int, *, update: bool) -> dict:
    """One raw payload. ``update`` records null or blank more fields, as a
    partial re-crawl does; the upsert must keep the stored values then."""
    series = int(rng.integers(0, 400))
    number = int(rng.integers(1, 300))
    is_var = rng.random() < 0.1
    title = f"Series {series} #{number}" + (" (Variant)" if is_var else "")
    dates = [{"type": "focDate", "date": "2009-12-31T00:00:00-0500"}]
    r = rng.random()
    if r < 0.9:
        day = dt.date(1990, 1, 1) + dt.timedelta(days=int(rng.integers(0, 12000)))
        dates.insert(0, {"type": "onsaleDate", "date": f"{day.isoformat()}T00:00:00-0500"})
    elif r < 0.95:
        dates.insert(0, {"type": "onsaleDate", "date": "unparseable-garbage"})
    prices = [{"type": "digitalPurchasePrice", "price": 1.99}]
    if rng.random() < (0.6 if update else 0.9):
        prices.insert(0, {"type": "printPrice", "price": int(rng.integers(99, 1000)) / 100})
    if rng.random() < 0.1:
        thumb = {"path": "http://img.example/image_not_available", "extension": "jpg"}
    elif rng.random() < 0.05:
        thumb = None
    else:
        thumb = {"path": f"http://img.example/c{comic_id}/{int(rng.integers(0, 1 << 30))}",
                 "extension": None if rng.random() < 0.1 else "jpg"}
    blank = (lambda v: _maybe_blank(rng, v)) if update else (lambda v: v)
    roles = ["writer", "penciler", "inker", "colorist", "letterer", "editor"]
    return {
        "id": comic_id,
        "title": title,
        "issueNumber": number + (0.1 if rng.random() < 0.1 else 0.0),
        "description": blank(" ".join(rng.choice(_WORDS, int(rng.integers(3, 30))))),
        "isbn": blank(f"978-{int(rng.integers(0, 10**9)):09d}"),
        "upc": blank(f"upc-{int(rng.integers(0, 10**9)):09d}"),
        "variantDescription": "Sketch Variant" if is_var and rng.random() < 0.5 else "",
        "dates": dates,
        "prices": prices,
        "creators": {"items": [{"name": f" Creator {int(rng.integers(0, 500))} ",
                                "role": roles[int(rng.integers(0, 6))]}
                               for _ in range(int(rng.integers(0, 4)))]},
        "thumbnail": thumb,
    }


def preload_records(seed: int, n: int) -> list[dict]:
    """The initial catalogue: ids 0..n-1, every field populated."""
    rng = np.random.default_rng([seed, 2])
    return [marvel_record(rng, i, update=False) for i in range(n)]


def batch_records(seed: int, batch_no: int, n_target: int, size: int) -> list[dict]:
    """Batch ``batch_no``: updates of stored ids plus ids the stored table
    lacks, in the fixed BATCH_MIX shares, shuffled."""
    rng = np.random.default_rng([seed, 3, batch_no])
    n_upd = int(size * BATCH_MIX["update"])
    upd_ids = rng.choice(n_target, n_upd, replace=False)
    new_ids = n_target + rng.choice(10 * size, size - n_upd, replace=False)
    recs = ([marvel_record(rng, int(i), update=True) for i in upd_ids]
            + [marvel_record(rng, int(i), update=False) for i in new_ids])
    order = rng.permutation(len(recs))
    return [recs[i] for i in order]


def write_jsonl(records: list[dict], path: str) -> dict[int, int]:
    """Write one payload per line; returns each id's payload byte size."""
    sizes = {}
    with open(path, "w") as fh:
        for rec in records:
            line = json.dumps(rec, separators=(",", ":")) + "\n"
            fh.write(line)
            sizes[rec["id"]] = len(line.encode())
    return sizes


def _clean(v):
    if v is None:
        return None
    v = v.strip(" ")
    return v or None


def normalize(rec: dict) -> tuple:
    """Reference restatement of the Marvel transform, one payload → one
    row in MARVEL_COLUMNS order."""
    num = rec["issueNumber"]
    issue = None if num is None else (str(int(num)) if num == int(num) else repr(num))
    onsale = None
    for d in rec["dates"] or []:
        if d["type"] == "onsaleDate":
            try:
                onsale = dt.date.fromisoformat(d["date"][:10])
            except ValueError:
                onsale = None
            break
    price = next((p["price"] for p in rec["prices"] or [] if p["type"] == "printPrice"), None)
    thumb = rec["thumbnail"]
    cover = None
    if thumb and thumb["path"] and "image_not_available" not in thumb["path"]:
        cover = f"{thumb['path']}/portrait_uncanny.{thumb['extension'] or 'jpg'}"
    blob = " ".join(x for x in (rec["title"], rec["variantDescription"]) if x is not None)
    return (rec["id"], rec["title"], issue, onsale,
            None if price is None else round(price * 100),
            _clean(rec["isbn"]), _clean(rec["upc"]), _clean(rec["description"]),
            cover, "variant" in blob.lower())


def upsert_model(table: dict[int, tuple], batch: list[dict]) -> dict[int, tuple]:
    """The selective-upsert contract: new ids insert whole; stored ids take
    only non-NULL batch values of UPDATE_COLS and keep everything else."""
    out = dict(table)
    upd = [MARVEL_COLUMNS.index(c) for c in UPDATE_COLS]
    for rec in batch:
        row = normalize(rec)
        old = out.get(row[0])
        if old is None:
            out[row[0]] = row
        else:
            new = list(old)
            for i in upd:
                if row[i] is not None:
                    new[i] = row[i]
            out[row[0]] = tuple(new)
    return out
