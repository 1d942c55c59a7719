"""Independent check of analytic results: DuckDB runs each statement the
server answered over the same parquet files and the rows must agree."""
import math

import duckdb


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a == b or math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-9)
    if hasattr(b, "isoformat"):
        b = b.isoformat()
    return a == b


def check(data_dir, analytics):
    """Return the statements whose server rows differ from DuckDB's, or whose
    repeated executions disagreed with each other."""
    if not analytics:
        return []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "orders", "lineitem", "events"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, data_dir, t))
    wrong = []
    for e in analytics:
        want = [list(r) for r in con.execute(e["sql"]).fetchall()]
        got = e["rows"]
        ok = e["consistent"] and len(got) == len(want) and all(
            len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
            for g, w in zip(got, want))
        if not ok:
            wrong.append(e["sql"])
    con.close()
    return wrong
