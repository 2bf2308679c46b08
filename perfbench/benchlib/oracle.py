"""Expected results from DuckDB over the same parquet the engine reads: the
match count of every graph pattern from DuckDB's binary-join plans."""

import os
import re

import duckdb


def _views(con, data_dir: str) -> None:
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")


def pattern_sql(pattern: str) -> str:
    """A ``(a)-[]->(b)-[]->(c); (c)-[]->(a)`` pattern as a plain self-join
    count over ``edges``: one edge copy per pattern edge, one equality per
    repeated variable (homomorphism semantics, like the engine's)."""
    pairs = []
    for chain in pattern.split(";"):
        nodes = re.findall(r"\((\w+)\)", chain)
        pairs += list(zip(nodes, nodes[1:]))
    bound, conds = {}, []
    for i, (x, y) in enumerate(pairs):
        for var, column in ((x, f"e{i}.src"), (y, f"e{i}.dst")):
            if var in bound:
                conds.append(f"{bound[var]} = {column}")
            else:
                bound[var] = column
    tables = ", ".join(f"edges e{i}" for i in range(len(pairs)))
    return f"SELECT count(*) FROM {tables} WHERE {' AND '.join(conds)}"


def pattern_counts(data_dir: str, patterns: list) -> dict:
    """Match counts of every pattern over the ``edges`` table, from DuckDB's
    binary-join plans. A pattern may carry its own ``duckdb`` query where the
    plain self-join would enumerate too many intermediate rows."""
    con = duckdb.connect()
    _views(con, data_dir)
    out = {p["name"]: int(con.execute(p.get("duckdb") or pattern_sql(p["pattern"])).fetchone()[0])
           for p in patterns}
    con.close()
    return out
