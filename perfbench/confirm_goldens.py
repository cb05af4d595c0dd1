#!/usr/bin/env python3
"""One-off confirmation of the mix goldens against DuckDB.

    python3 perfbench/confirm_goldens.py <dump dir>

Run from the repository root after the harness's dump mode has written
each mix query's answer as parquet, the engine's oracle SQL and the
goldens into <dump dir>. Each answer is compared with DuckDB running the
oracle SQL over perfbench/data/sf0.01, using the comparison of
tools/check.py. The harness's own store job has no engine oracle; it is
checked against the SQL below; the streamed replay is checked by the
harness against the page generator's delivery counts when it dumps.
Writes perfbench/goldens.json, with each golden's verdict, and exits
non-zero if any answer disagrees.
"""
import contextlib
import io
import json
import sys

sys.path.insert(0, "tools")
import check  # noqa: E402  (the engine's DuckDB comparison)

DATA = "perfbench/data/sf0.01"
HARNESS_SQL = {
    # store_upsert_bulk: every order inserted once, every fifth key
    # upserted a second time with o_totalprice + 1
    "store_upsert_bulk": """
        SELECT year(o_orderdate) AS p_year, count(*) AS n,
               count(*) + sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS nupdates,
               CAST(SUM(CAST(o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
                    AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1""",
}


def main(dump):
    oracle = json.load(open(f"{dump}/oracle_sql.json"))
    oracle.update(HARNESS_SQL)
    with open(f"{dump}/oracle_sql.json", "w") as f:
        json.dump(oracle, f)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(DATA, dump)
    verdict = {}
    for line in out.getvalue().splitlines():
        if line.startswith(("PASS ", "FAIL ")):
            verdict[line.split()[1].rstrip(":")] = line
    print(out.getvalue())
    goldens = json.load(open(f"{dump}/goldens.json"))
    for q, g in goldens.items():
        g["duckdb"] = verdict.get(q, "no oracle")
    with open("perfbench/goldens.json", "w") as f:
        json.dump({"data": DATA, "queries": goldens}, f, indent=1, sort_keys=True)
        f.write("\n")
    ok = all(g["duckdb"].startswith("PASS") or g.get("check", "").endswith("PASS") for g in goldens.values())
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
