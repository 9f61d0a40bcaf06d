"""Output checks for the benchmark, run outside every timed region.

ETL: an independent restatement of what the star schema must
hold after a sequence of price-list batches (canonicalize → transform →
staging → M1/U1/M2/M3 upserts), compared against the warehouse readback
joined the way q41 joins it.

Catalog: each query's result against its DuckDB ``spec.sql`` oracle,
rendered with the canon of ``tools/oracle_diff.py``.
"""

from __future__ import annotations

import csv
import io
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

# pandas.read_csv's default NA markers: the files path parses with pandas
# (as the reference does), so these cells arrive as NULL
_PANDAS_NA = frozenset({
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None", "n/a",
    "nan", "null",
})
_MEASURE = re.compile(r"(\d+\.?\d*)\s*([a-zA-Z]{1,3})")
_PACKAGE = re.compile(r"x\s*(\d+)")
_IVA = re.compile(r"\(\s*[Gg]\s*(\d+)\s*\)")
_SPECIAL = re.compile(r"[^A-Za-z0-9/% ]+")
_CAMEL = re.compile(r"([a-z])([A-Z0-9])")
_PRICE_NOISE = re.compile(r"[.,$ _]")
_CENT = Decimal("0.01")


def _cells(text: str) -> list[dict[str, str | None]]:
    """Rows of one sheet as {column: raw cell}, parsed the way the files
    path parses (pandas, as the reference does: NA markers become NULL,
    short rows are padded)."""
    reader = csv.reader(io.StringIO(text))
    names = next(reader)
    rows = []
    for rec in reader:
        rec = rec + [""] * (len(names) - len(rec))
        rows.append({n: (None if v in _PANDAS_NA else v) for n, v in zip(names, rec)})
    return rows


def _provider(raw: str | None) -> str | None:
    if raw is None:
        return None
    s = _SPECIAL.sub("", raw)
    if not s:
        return None
    s = _CAMEL.sub(r"\1 \2", s)
    return s.title() if s else None


def _price(raw: str | None) -> Decimal | None:
    if raw is None:
        return None
    s = _PRICE_NOISE.sub("", raw)
    return Decimal(s) if re.fullmatch(r"[+-]?\d{1,16}", s) else None


class _Dates:
    """The exact transform's date rule: day-first vectorised pandas parse
    of each distinct value, falling back to dateutil's fuzzy day-first
    parse for what pandas cannot read; NULL when both fail."""

    def __init__(self) -> None:
        self._memo: dict[str, str | None] = {}

    def __call__(self, raw: str | None) -> str | None:
        if raw is None:
            return None
        if raw not in self._memo:
            import pandas as pd
            from dateutil.parser import parse

            ts = pd.to_datetime(pd.Series([raw], dtype="string"), dayfirst=True,
                                errors="coerce", format="mixed")[0]
            if ts is not pd.NaT and not pd.isna(ts):
                self._memo[raw] = ts.strftime("%Y-%m-%d")
            else:
                try:
                    self._memo[raw] = parse(raw, dayfirst=True, fuzzy=True).strftime("%Y-%m-%d")
                except (ValueError, OverflowError):
                    self._memo[raw] = None
        return self._memo[raw]


def _first(rx: re.Pattern, s: str, group: int) -> str | None:
    m = rx.search(s)
    return m.group(group) if m and m.group(group) else None


class StarOracle:
    """Folds delivered files into the expected (product, provider) rows of
    the star."""

    def __init__(self) -> None:
        self.products: dict[str, tuple[Decimal | None, str | None]] = {}
        self.links: dict[tuple[str, str], dict] = {}
        self._dates = _Dates()

    def add_file(self, text: str) -> None:
        """One delivered file: one staging batch."""
        staged = []
        for row in _cells(text):
            desc = row.get("Producto")
            if desc is None:
                continue
            measure = _first(_MEASURE, desc, 1)
            unit = _first(_MEASURE, desc, 2)
            iva = _first(_IVA, desc, 1)
            pkg = _first(_PACKAGE, desc, 1)
            staged.append({
                "desc": desc,
                "measure": Decimal(measure).quantize(_CENT, ROUND_HALF_UP) if measure else None,
                "unit": unit.lower() if unit else None,
                "provider": _provider(row.get("Provedor")),
                "date": self._dates(row.get("Fecha 1", row.get("Fecha"))),
                "pkg": int(pkg) if pkg is not None else None,
                "iva": Decimal(int(iva)) if iva is not None else None,
                "price": _price(row.get("Precio")),
            })
        # M2: product keyed on the raw description; measure/unit follow it
        for r in staged:
            old = self.products.get(r["desc"])
            self.products[r["desc"]] = (
                r["measure"] if r["measure"] is not None else (old[0] if old else None),
                r["unit"] if r["unit"] is not None else (old[1] if old else None),
            )
        # M3: one source row per (product, provider): latest review date,
        # then highest price, NULLs last; matched links take every
        # non-NULL new value
        best: dict[tuple[str, str], dict] = {}
        rank = lambda r: (r["date"] is not None, r["date"] or "", r["price"] is not None, r["price"] or 0)
        for r in staged:
            if r["provider"] is None:
                continue
            key = (r["desc"], r["provider"])
            if key not in best or rank(r) > rank(best[key]):
                best[key] = r
        for key, r in best.items():
            old = self.links.get(key, {})
            self.links[key] = {
                f: r[f] if r[f] is not None else old.get(f)
                for f in ("date", "pkg", "iva", "price")
            }

    def rows(self) -> Counter:
        out = Counter()
        for (desc, prov), link in self.links.items():
            measure, unit = self.products[desc]
            out[(
                prov, desc,
                float(measure) if measure is not None else None,
                unit,
                link["pkg"],
                float(link["iva"]) if link["iva"] is not None else None,
                float(link["price"]) if link["price"] is not None else None,
                link["date"],
            )] += 1
        return out


def star_readback(wh) -> Counter:
    """The fact table joined to its dimensions as q41 reads it back, plus
    the review date."""
    from pyspark.sql import functions as F

    pp = wh.read("provider_product").alias("pp")
    prod = wh.read("product").alias("prod")
    prov = wh.read("provider").alias("prov")
    uom = wh.read("unit_of_measure").alias("uom")
    rows = (
        pp.join(prod, F.col("pp.ProductId") == F.col("prod.Id"))
        .join(prov, F.col("pp.ProviderId") == F.col("prov.Id"))
        .join(uom, F.col("prod.UnitOfMeasureId") == F.col("uom.Id"), "left")
        .select(
            F.col("prov.Name"),
            F.col("prod.Description"),
            F.col("prod.Measure").cast("double"),
            F.lower(F.col("uom.Acronym")),
            F.col("pp.PackageUnits"),
            F.col("pp.IVA").cast("double"),
            F.col("pp.Price").cast("double"),
            F.date_format(F.col("pp.LastReviewDt"), "yyyy-MM-dd"),
        )
        .collect()
    )
    return Counter(tuple(r) for r in rows)


def ledger_statuses(wh) -> dict[str, int]:
    return {r["FileName"]: r["StatusId"] for r in wh.read("process_file").collect()}


def diff_summary(got: Counter, want: Counter, limit: int = 3) -> str:
    extra = list((got - want).elements())[:limit]
    missing = list((want - got).elements())[:limit]
    return f"{sum((got - want).values())} unexpected {extra}; {sum((want - got).values())} missing {missing}"


# --------------------------------------------------------------------------
# catalog


class CatalogOracle:
    """DuckDB over the generated parquet tables, compared with the canon of
    ``tools/oracle_diff.py``."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        from tools.oracle_diff import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, sql: str, got_pdf) -> str | None:
        """None when ``got_pdf`` (a Spark ``toPandas()`` frame) matches the
        oracle, else a one-line reason."""
        from tools.oracle_diff import canon

        got = canon(got_pdf)
        want = canon(self.con.execute(sql).df())
        if list(got.columns) != list(want.columns):
            return f"schema {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if not got.equals(want):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
