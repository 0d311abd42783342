"""DuckDB oracle checks for the explore workload.

The JVM writes, outside the timed region, one result per declared query
and per Explorer request kind. Each is compared with DuckDB run on the
same inputs, under the canon rules of scripts/local_verify.py: columns
sorted by name, floats rounded to 4 decimals, rows in result order. Two
floats also match when they differ by 1e-9 of their size, or by one unit
in their last decimal when they show 2 to 4 decimals. Summing in another
order moves a sum or an average by a few ulps; in a query that rounds
the value itself (q57: round(avg(total), 2), g09: round(avg(value), 4))
that can carry it across a rounding tie, and the results then differ by
one unit in the last decimal.
"""
import math

import duckdb

import gen

FLAT = {
    "TXID": "txid", "RFID": "rfid", "CAR_MODEL": "car_model", "BRAND": "brand",
    "ENGINE": "engine", "HORSEPOWER": "horsepower", "SELL_PRICE": "sell_price",
    "PURCHASE_TIME": "purchase_time", "DAYS": "days", "NAME": "name",
    "STREET_ADDRESS": "address.street_address", "CITY": "address.city",
    "STATE": "address.state", "POSTALCODE": "address.postalcode",
    "PHONE": "phone", "EMAIL": "email",
    "EMERGENCY_NAME": "emergency_contact.name",
    "EMERGENCY_PHONE": "emergency_contact.phone",
}


def canon(rel):
    """Sorted column names, and the rows as tuples in that column order."""
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), [tuple(r[i] for i in order) for r in rel.fetchall()]


def decimals(x):
    r = repr(x)
    return len(r.split(".")[1]) if "." in r and "e" not in r else None


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if round(a, 4) == round(b, 4) or math.isclose(a, b, rel_tol=1e-9):
            return True
        d = max(decimals(a) or 99, decimals(b) or 99)
        return 2 <= d <= 4 and abs(a - b) <= 1.01 * 10.0 ** -d
    return str(a) == str(b)


def show(row):
    return "|".join(str(round(v, 4) if isinstance(v, float) else v) for v in row)


def lit(s):
    return "'" + s.replace("'", "''") + "'"


def where(spec):
    preds = []
    if spec["brands"]:
        preds.append(f"BRAND IN ({', '.join(map(lit, spec['brands']))})")
    if spec["engines"]:
        preds.append(f"ENGINE IN ({', '.join(map(lit, spec['engines']))})")
    if spec["hp"]:
        preds.append(f"HORSEPOWER BETWEEN {spec['hp'][0]} AND {spec['hp'][1]}")
    if spec["dates"]:
        lo, hi = spec["dates"]
        preds.append(f"epoch_us(PURCHASE_TIME) >= epoch_us(TIMESTAMP {lit(lo)}) AND "
                     f"epoch_us(PURCHASE_TIME) < epoch_us(TIMESTAMP {lit(hi)} + INTERVAL 1 DAY)")
    if spec["search"]:
        q = lit(spec["search"].lower())
        preds.append("(" + " OR ".join(f"contains(lower({c}), {q})"
                                       for c in ("NAME", "EMAIL", "PHONE", "RFID")) + ")")
    if spec["states"]:
        preds.append(f"STATE IS NOT NULL AND STATE IN ({', '.join(map(lit, spec['states']))})")
    return "WHERE " + " AND ".join(preds) if preds else ""


def explorer_sql(spec):
    f = f"(SELECT * FROM orders_flat {where(spec)})"
    kind, arg = spec["kind"], spec["arg"]
    if kind == "metricTiles":
        return ("SELECT count(*) AS TOTAL_ORDERS, round(avg(HORSEPOWER), 4) AS AVG_HORSEPOWER, "
                "round(avg(DAYS), 4) AS AVG_DAYS, count(DISTINCT EMAIL) AS UNIQUE_CUSTOMERS "
                f"FROM {f}")
    if kind == "ordersBySegment":
        return (f"SELECT {arg}, count(*) AS ORDERS, round(avg(HORSEPOWER), 4) AS AVG_HP, "
                f"round(avg(DAYS), 4) AS AVG_DAYS FROM {f} GROUP BY {arg} "
                f"ORDER BY ORDERS DESC, {arg} ASC NULLS FIRST LIMIT {spec['k']}")
    if kind == "distinctValues":
        return (f"SELECT DISTINCT {arg} FROM {f} WHERE {arg} IS NOT NULL "
                f"ORDER BY {arg} LIMIT 200")
    if kind == "bounds":
        return f"SELECT min({arg}) AS MIN, max({arg}) AS MAX FROM {f}"
    raise ValueError(kind)


def compare(con, name, got_dir, want_rel):
    got_cols, got = canon(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'"))
    want_cols, want = canon(want_rel)
    if got_cols != want_cols:
        return f"{name}: columns {got_cols} vs oracle {want_cols}"
    i = next((i for i, (a, b) in enumerate(zip(got, want))
              if not all(map(same, a, b))), min(len(got), len(want)))
    if i < max(len(got), len(want)):
        return (f"{name}: {len(got)} rows vs oracle {len(want)}; first diff at {i}: "
                f"{show(got[i]) if i < len(got) else None} vs "
                f"{show(want[i]) if i < len(want) else None}")
    return None


def check(manifest, data_dir):
    """Returns the failed checks as [{"kind": ..., "message": ...}]."""
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    con.execute("CREATE VIEW orders_flat AS SELECT " +
                ", ".join(f"{src} AS {dst}" for dst, src in FLAT.items()) +
                f" FROM '{manifest['orders']}/*.parquet'")
    out = manifest["dir"]
    failures = []

    def run(kind, fn):
        try:
            msg = fn()
        except Exception as e:  # an oracle or read error is a failed check
            msg = f"{kind}: {type(e).__name__}: {e}"
        if msg:
            failures.append({"kind": kind, "message": msg})

    for q, sql in sorted(manifest["oracle"].items()):
        run(q, lambda: compare(con, q, f"{out}/{q}", con.sql(sql)))
    for name, spec in sorted(manifest["explorer"].items()):
        if spec["kind"] == "preview":
            run(name, lambda: preview(con, name, f"{out}/{name}", spec))
        else:
            run(name, lambda: compare(con, name, f"{out}/{name}", con.sql(explorer_sql(spec))))
    return failures


def preview(con, name, got_dir, spec):
    """A preview has no order, so its rows are checked as a bounded
    sample: the right count, and every row present in the filtered table."""
    cols = ", ".join(spec["cols"])
    f = f"(SELECT {cols} FROM orders_flat {where(spec)})"
    n = con.sql(f"SELECT count(*) FROM {f}").fetchone()[0]
    got = f"(SELECT {cols} FROM '{got_dir}/*.parquet')"
    m = con.sql(f"SELECT count(*) FROM {got}").fetchone()[0]
    if m != min(n, spec["limit"]):
        return f"{name}: {m} rows, expected min({n}, {spec['limit']})"
    extra = con.sql(f"SELECT count(*) FROM ({got} EXCEPT ALL {f})").fetchone()[0]
    if extra:
        return f"{name}: {extra} rows not in the filtered table"
    return None
