"""Driver-held rows as a local relation.

Rows travel as JSON text inside one `VALUES` list parsed by
`from_json`. Spark plans the result as a local relation, so reading it
runs no job, where `createDataFrame` plans over a parallelized RDD and
runs one per action. Every row set the driver already holds on a
request path is built here: catalog relations, statement replies, the
ES door's writes and the search planner's term lists."""

from __future__ import annotations

import json


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def local_frame(spark, schema: str, rows):
    """`rows` (dicts by column name) as a relation of `schema` (a DDL
    column list, every column nullable). A value must survive JSON: a
    string, number, bool, None, or a list/dict of those."""
    docs = [_sql_str(json.dumps(r)) for r in rows]
    values = ", ".join(f"({d})" for d in docs) or "('{}')"
    return spark.sql(
        f"SELECT r.* FROM (SELECT from_json(j, {_sql_str(schema)})"
        f" AS r FROM VALUES {values} AS t(j)"
        f"{'' if docs else ' WHERE false'})")
