"""Output checks of the benchmark, made apart from the program.

check_report: a validation report against the generator's expected report
(order-sensitive, exact), plus the properties every report must hold.
check_registry: each listed query's output against DuckDB running the
query's oracle SQL over the same parquet tables.
"""
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def diff(a, b, path="report", out=None, limit=10):
    """Differences between a (actual) and b (expected); key order counts."""
    out = [] if out is None else out
    if len(out) >= limit:
        return out
    if isinstance(b, dict):
        if not isinstance(a, dict):
            out.append(f"{path}: {type(a).__name__} where an object is expected")
        elif list(a) != list(b):
            out.append(f"{path}: keys {list(a)[:12]} != expected {list(b)[:12]}")
        else:
            for k in b:
                diff(a[k], b[k], f"{path}.{k}", out, limit)
    elif isinstance(b, list):
        if not isinstance(a, list) or len(a) != len(b):
            out.append(f"{path}: {a!r} != expected {b!r}"[:300])
        else:
            for i, (x, y) in enumerate(zip(a, b)):
                diff(x, y, f"{path}[{i}]", out, limit)
    elif type(a) is not type(b) or a != b:
        out.append(f"{path}: {a!r} != expected {b!r}")
    return out


def properties(report: dict, parsed_dates: dict) -> list:
    """Invariants every report holds, whatever the archive."""
    bad = []
    tables = [("core", report["core"])] + [
        (f"extensions[{i}]", e) for i, e in enumerate(report["extensions"])]
    for name, t in tables:
        n = t["record_count"]
        for col, c in t["column_counts"].items():
            if c > n:
                bad.append(f"{name}: column {col} counts {c} > {n} records")
        for v in t["vocab_reports"] or []:
            if v["has_field"]:
                nulls = n - t["column_counts"][v["field"]]
                if v["recognised_count"] + v["unrecognised_count"] + nulls != n:
                    bad.append(f"{name}: {v['field']} recognised + unrecognised + null != {n}")
    # the date histograms come from the last validated table with an
    # eventDate: extension breakdowns replace the core ones
    sources = [(k, v) for k, v in parsed_dates.items() if v >= 0]
    if sources:
        src, dates = sources[-1]
        for h in ("year", "month", "day"):
            total = sum(report["breakdowns"].get(h, {}).values())
            if total != dates:
                bad.append(f"breakdowns.{h} sums to {total}, {src} has {dates} parseable dates")
    return bad


def check_report(report: dict, expected: dict) -> list:
    expected = dict(expected)
    parsed_dates = expected.pop("_parsed_dates")
    return diff(report, expected) + properties(report, parsed_dates)


def connect(data: Path):
    import duckdb
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{data.parent / 'duckdb-tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
    return con


def compare(spark_df, oracle_df) -> str | None:
    """Same columns, dtypes, row count and exact values (columns sorted by name)."""
    a = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    b = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if str(x.dtype) != str(y.dtype):
            return f"dtype of {c}: {x.dtype} != oracle {y.dtype}"
        if x.dtype == object:
            eq = x.map(repr).fillna("<NA>") == y.map(repr).fillna("<NA>")
        else:
            eq = (x == y) | (x.isna() & y.isna())
        bad = (~eq).to_numpy().nonzero()[0]
        if len(bad):
            i = int(bad[0])
            return f"{len(bad)} values of {c} differ; row {i}: {x.iloc[i]!r} != oracle {y.iloc[i]!r}"
    return None


def check_registry(data: Path, outs: Path, names: list, oracles: dict) -> dict:
    con = connect(data)
    verdicts = {}
    for n in names:
        files = sorted((outs / n).glob("*.parquet"))
        if not files:
            verdicts[n] = {"error": "no output written"}
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{outs / n}/*.parquet')").df()
        v = {"rows": len(got), "oracle": n in oracles}
        if n in oracles:
            err = compare(got, con.sql(oracles[n]).df())
            if err:
                v["error"] = err
        verdicts[n] = v
    con.close()
    return verdicts
