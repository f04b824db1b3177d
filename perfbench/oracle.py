"""DuckDB oracle check for batch_suite: the rules that have a
``gwv_sql`` oracle, evaluated by DuckDB over the same corpus file, must
give the same rows as the job's committed violations projected to the
oracle's columns (the projections of gwv_spark.queries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gwv_spark import gwv_sql


def _untag(col: str):
    return F.expr(f"substring({col}, 2)")


def _joined(sep: str = "|"):
    return F.array_join(
        F.transform(F.col("detail"), lambda x: F.substring(x, 2, 1 << 30)), sep
    )


PROJECTIONS = {
    "delvar": lambda v: v.select("doc_id", _untag("detail[0]").alias("base")),
    "order": lambda v: v.select(
        "doc_id", "errcode", _untag("detail[0]").alias("part_name")
    ),
    "donotuse": lambda v: v.select("doc_id", _joined().alias("parts")),
    "kosekitoki": lambda v: v.select(
        "doc_id", "errcode", F.nullif(_joined(), F.lit("")).alias("params")
    ),
    "ucsalias": lambda v: v.select(
        "doc_id",
        "errcode",
        F.when(F.size("detail") > 0, _untag("detail[0]")).alias("entity_param"),
    ),
    "mustrenew": lambda v: v.select(
        F.col("doc_id").alias("part_name"), "errcode", _joined().alias("quoters")
    ),
}


def _canon(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(None if r[i] is None else str(r[i]) for i in order) for r in rows
    )


def mismatches(spark, violations, docs_path: str, rule_ids) -> list[str]:
    """One message per rule whose violations differ from its oracle."""
    import duckdb

    con = duckdb.connect()
    failed = []
    try:
        for rid in rule_ids:
            sql = getattr(gwv_sql, f"{rid}_sql")(f"read_parquet('{docs_path}')")
            cur = con.execute(sql)
            o_cols = [d[0] for d in cur.description]
            oracle_rows = _canon(o_cols, cur.fetchall())
            mine = PROJECTIONS[rid](violations.where(F.col("rule_id") == rid))
            mine_rows = _canon(mine.columns, mine.collect())
            if sorted(o_cols) != sorted(mine.columns) or oracle_rows != mine_rows:
                failed.append(
                    f"batch_suite: {rid} differs from its DuckDB oracle "
                    f"({len(mine_rows)} vs {len(oracle_rows)} rows)"
                )
    finally:
        con.close()
    return failed
