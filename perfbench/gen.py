"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
the same bytes.  The program under test only ever sees what these
functions write.

* :func:`price_lists` — messy Spanish supplier price lists in the shape of
  FIXTURES.md §1: day-first mixed date formats, ``$``/dot/comma prices,
  camel-case, special-character and near-duplicate provider spellings,
  measure / package / IVA embedded in ``Producto``, trailing empty
  columns, and a share of malformed cells.
* :func:`catalog_tables` — a TPC-H-ish star plus ``events``,
  ``documents`` and ``embeddings``, with the same schemas and value
  distributions as the fixed testdata the catalog's oracles were written
  against, so every catalog query runs on it unchanged.
"""

from __future__ import annotations

import csv
import io
import itertools
import random
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path
from typing import Iterator

_PRODUCTS = (
    "Arroz", "Aceite", "Agua", "Azucar", "Cafe", "Leche", "Harina", "Frijol",
    "Atun", "Galleta", "Jabon", "Papel Higienico", "Sal", "Pasta", "Salsa",
    "Queso", "Yogurt", "Cereal", "Chocolate", "Te", "Avena", "Lenteja",
    "Mantequilla", "Detergente", "Gaseosa", "Jugo", "Papa", "Rosca", "Pan",
    "Mayonesa",
)
_BRANDS = (
    "Capullo", "Cielo", "Premium", "Diana", "Roa", "Colanta", "Alpina",
    "Kitty", "Moana", "Doria", "Zenu", "Nestle", "Quaker", "Fruco", "Ramo",
    "Corona", "Familia", "Postobon", "Margarita", "Noel",
)
_VARIANTS = ("", "Integral", "Light", "Clasico", "Extra", "Original", "Mini", "Familiar")
# (measure text, unit text): units vary in case and alias on purpose
_MEASURES = (
    ("500", "g"), ("250", "gr"), ("1", "kg"), ("1.5", "kg"), ("625", "ml"),
    ("1", "l"), ("2", "lt"), ("330", "ML"), ("900", "G"), ("12", "un"),
    ("750", "ml"), ("2.25", "L"),
)
_GLYPHS = ("", "", "", " *", "*", " **", "¹")
# spellings of one provider as supplier sheets carry them: trailing spaces,
# camel case, special characters and near-duplicates
_PROVIDERS = (
    ("Canasta", "Canasta ", "Canasta+", "Canast"),
    ("Serrano", "Serrano ", "Vicente Serrano"),
    ("Big", "BIG", "Big!"),
    ("MiProveedor", "Mi Proveedor", "Mi-Proveedor"),
    ("ProveedorABC@123", "ProveedorAbc123"),
    ("DistribuidoraCentral", "Distribuidora Central S.A.S"),
    ("ProvedorA S.A.S", "ProvedorA"),
    ("MayoristaNorte", "Mayorista#Norte", "Mayorista Norte "),
    ("LaEsquina", "La Esquina", "La_Esquina"),
    ("Surtidora24", "Surtidora 24"),
)
_MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)
_BAD_DATES = ("not a date", "31/02/2024", "")
_BAD_PRICES = ("$.,", "N/A", "", "12a")
_BAD_PROVIDERS = ("@#$!", "")
HEADER_WIDTH = 8  # real sheets end in empty columns: "Producto,Fecha 1,Provedor,Precio,,,,"

# The shape of the traffic.  FIXTURES.md names the kinds of mess a price
# list carries but gives no shares, and the reference's real sample is not
# in the repository, so these figures are assumptions, not measurements.
OVERLAP_SHARE = 0.5  # rows that repeat a product drawn earlier (same file or an earlier one)
MALFORMED_SHARE = 0.04  # rows with one malformed cell
MISALIGNED_SHARE = 0.1  # rows that lack the trailing empty columns
PROVIDERS_PER_FILE = (2, 3)  # inclusive range


@dataclass(frozen=True)
class PriceListParams:
    """The traffic dimensions an ETL workload varies."""

    rows_per_file: int = 1500
    redelivery_share: float = 0.25  # assumed share of deliveries that resend an earlier file
    bulk: bool = False  # the standard 5-column header with an IVA column


@dataclass
class Delivery:
    """One file handed to the program; ``redelivery`` resends ``name``."""

    name: str
    text: str
    rows: int
    redelivery: bool = False


@dataclass
class _Catalog:
    rng: random.Random
    seen: list[str] = field(default_factory=list)
    seen_set: set[str] = field(default_factory=set)

    def fresh(self) -> str:
        while True:
            d = _description(self.rng)
            if d not in self.seen_set:
                self.seen_set.add(d)
                self.seen.append(d)
                return d


def _description(rng: random.Random) -> str:
    name = rng.choice(_PRODUCTS)
    brand = rng.choice(_BRANDS)
    variant = rng.choice(_VARIANTS)
    measure, unit = rng.choice(_MEASURES)
    words = " ".join(w for w in (name, brand, variant) if w)
    if rng.random() < 0.2:
        words = words.upper()
    sep = "" if rng.random() < 0.6 else " "
    pack = rng.choice(("", f" x {rng.randint(2, 48)}", f" x{rng.randint(2, 48)}"))
    iva = rng.choice(("", f" (G{rng.choice((1, 5, 13, 19))})", f"(g{rng.choice((1, 5))} )"))
    tag = rng.randint(1, 99999)  # keeps descriptions of one file distinct
    return f"{words} {measure}{sep}{unit}{pack}{iva}{rng.choice(_GLYPHS)} #{tag}"


def _date_text(rng: random.Random, day: date) -> str:
    style = rng.randrange(4)
    if style == 0:
        return f"{day.day:02d}/{day.month:02d}/{day.year}"
    if style == 1:
        return f"{day.day}/{day.month:02d}/{day.year}"
    if style == 2:
        return day.isoformat()
    return f"{_MONTHS[day.month - 1]} {day.day}, {day.year}"


def _price_text(rng: random.Random, cents: int) -> str:
    units, frac = divmod(cents, 100)
    style = rng.randrange(5)
    if style == 0:
        return f"{units:,}".replace(",", ".")
    if style == 1:
        return f"${units:,}"
    if style == 2:
        return f"$ {units:,}".replace(",", ".") + f",{frac:02d}"
    if style == 3:
        return str(units)
    return f"{units}.{frac:02d}"


def _sheet(rng: random.Random, rows: list[list[str]], bulk: bool) -> str:
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    if bulk:
        w.writerow(["Producto", "Fecha", "Provedor", "Precio", "IVA"])
    else:
        head = ["Producto", rng.choice(("Fecha 1", "Fecha")), "Provedor", "Precio"]
        w.writerow(head + [""] * (HEADER_WIDTH - len(head)))
    for row in rows:
        pad = [] if rng.random() < MISALIGNED_SHARE else [""] * (HEADER_WIDTH - len(row))
        w.writerow(row + pad)
    return out.getvalue()


def deliveries(seed: int, params: PriceListParams) -> Iterator[Delivery]:
    """An endless, seed-determined stream of deliveries.  The second of
    every ``1 / redelivery_share`` deliveries resends an earlier file byte
    for byte (so even a two-delivery run exercises the ledger's skip);
    fresh file ``k`` is dated about ``k`` weeks after the first, so later
    files re-price earlier products with newer review dates."""
    rng = random.Random(f"price-lists/{seed}")
    cat = _Catalog(random.Random(f"products/{seed}"))
    start = date(2024, 1, 8)
    fresh: list[Delivery] = []
    redeliver_every = round(1 / params.redelivery_share) if params.redelivery_share else 0
    for k in itertools.count():
        if redeliver_every and k % redeliver_every == 1:
            src = rng.choice(fresh)
            yield Delivery(src.name, src.text, src.rows, redelivery=True)
            continue
        providers = rng.sample(_PROVIDERS, rng.randint(*PROVIDERS_PER_FILE))
        base = start + timedelta(weeks=len(fresh))
        rows = []
        for _ in range(params.rows_per_file):
            desc = (
                rng.choice(cat.seen)
                if cat.seen and rng.random() < OVERLAP_SHARE
                else cat.fresh()
            )
            day = base + timedelta(days=rng.randint(0, 6))
            date_s = _date_text(rng, day)
            price_s = _price_text(rng, rng.randint(100, 2_000_000))
            prov_s = rng.choice(rng.choice(providers))
            if rng.random() < MALFORMED_SHARE:
                which = rng.randrange(3)
                if which == 0:
                    date_s = rng.choice(_BAD_DATES)
                elif which == 1:
                    price_s = rng.choice(_BAD_PRICES)
                else:
                    prov_s = rng.choice(_BAD_PROVIDERS)
            row = [desc, date_s, prov_s, price_s]
            if params.bulk:
                row.append(rng.choice(("", "0", "5", "13", "19")))
            rows.append(row)
        name = f"lista_{seed}_{len(fresh):04d}.csv"
        d = Delivery(name, _sheet(rng, rows, params.bulk), len(rows))
        fresh.append(d)
        yield d


def price_lists(seed: int, n_files: int, params: PriceListParams) -> list[Delivery]:
    """The first ``n_files`` of :func:`deliveries`."""
    return list(itertools.islice(deliveries(seed, params), n_files))


# --------------------------------------------------------------------------
# catalog dataset

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)


def catalog_tables(seed: int, sf: float) -> dict[str, "object"]:
    """The catalog's ten input tables as pyarrow tables, at scale ``sf``
    (sf 1 = 6M lineitem rows)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)

    def money(lo: float, hi: float, n: int) -> "np.ndarray":
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def days(lo: str, hi: str, n: int) -> "np.ndarray":
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        span = int((b - a).astype(np.int64))
        return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")

    def keyed(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    t: dict[str, object] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": keyed("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": keyed("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line),
    })
    gaps = rng.exponential(1.0, n_events)
    offsets_us = (np.cumsum(gaps) / gaps.sum() * 30 * 86400e6).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offsets_us).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    n_docs = 5000
    texts = []
    for i in range(n_docs):
        words = rng.choice(_WORDS, rng.integers(10, 100))
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    for i in rng.choice(n_docs, 8, replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % n_docs]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    n_vec, dim = 2000, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_catalog(seed: int, sf: float, out_dir: Path) -> int:
    """Write :func:`catalog_tables` as ``<table>.parquet`` files; returns bytes written."""
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in catalog_tables(seed, sf).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="write the seeded catalog dataset")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", type=Path, required=True)
    a = ap.parse_args()
    write_catalog(a.seed, a.sf, a.out)
