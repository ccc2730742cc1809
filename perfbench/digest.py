#!/usr/bin/env python3
"""Pinned result digests for the benchmark's 37 SQL texts.

Each digest is computed once from the oracle: the same SQL text run by
DuckDB over the benchmark's data, normalised the way the repository's
oracle check does (rows sorted, numbers rounded to 6 decimals). The
Scala harness computes the same digest over the engine's rows
(perfbench/src/main/scala/perfbench/Digest.scala); the two renderings
must change together.

    python3 perfbench/digest.py    # rewrite perfbench/digests.json

perfbench/test_digest.py regenerates the digests and diffs them.
"""
import datetime
import decimal
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SSB = ["1_1", "1_2", "1_3", "2_1", "2_2", "2_3",
       "3_1", "3_2", "3_3", "3_4", "4_1", "4_2", "4_3"]


def texts():
    """(name, resource path) of every SQL text the benchmark runs."""
    out = [(f"q{i:02d}", f"tpch/q{i:02d}.sql") for i in range(1, 23)]
    out += [("hv01", "tpch/hv01.sql"), ("hv02", "tpch/hv02.sql")]
    out += [(f"ssb{n}", f"ssb/q{n}.sql") for n in SSB]
    return out


def read_text(rel):
    with open(os.path.join(REPO, "src", "main", "resources", "graft", rel),
              encoding="utf-8") as f:
        return f.read()


def _num(x):
    return str(decimal.Decimal(x).quantize(decimal.Decimal("0.000001"),
                                           rounding=decimal.ROUND_HALF_EVEN))


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _num(v + 0.0)
    if isinstance(v, (int, decimal.Decimal)):
        return _num(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def digest(rows):
    lines = sorted("\x1f".join(cell(v) for v in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()[:16]
    return f"{len(rows)}:{h}"


def generate():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t + '.parquet')}')")
    out = {}
    for name, rel in texts():
        sql = read_text(rel)
        out[name] = {
            "text_sha256": hashlib.sha256(sql.encode("utf-8")).hexdigest(),
            "digest": digest(con.execute(sql).fetchall()),
        }
    return {"duckdb": duckdb.__version__, "data": "data/sf0.01", "texts": out}


def main():
    fresh = generate()
    with open(DIGESTS, "w") as f:
        json.dump(fresh, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(fresh['texts'])} digests to {DIGESTS}")


if __name__ == "__main__":
    main()
