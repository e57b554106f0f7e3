"""Relational DML as DataFrame transforms — INSERT ON CONFLICT / MERGE
INTO / UPDATE FROM / DELETE on managed tables.

Reference: DuckDB-inherited DML surface proven by serenedb's tests
(any/pg/simple/{basic_dml,insert_conflict,update_pk}.test,
site_docs/sql/statements/merge_into/). Spark has no in-place update for
plain parquet tables; the engine's shape is the Delta-style REWRITE: each
DML op is a pure function old_state → new_state, committed by writing the
result (partition-scoped at scale — only partitions containing touched
keys rewrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_cols(key) -> list[str]:
    """A PK spec (single column name or composite tuple/list) → list of
    column names (update_pk.test multi_pk: PRIMARY KEY(a, b))."""
    return list(key) if isinstance(key, (tuple, list)) else [key]


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key,
    when_matched_update: dict[str, Column] | None = None,
    when_not_matched_insert: bool = True,
    when_matched_delete: Column | None = None,
) -> DataFrame:
    """MERGE INTO target USING source ON target.key = source.key
    (composite keys AND over every column).

    * matched + delete-condition → row dropped
    * matched → columns replaced per `when_matched_update` (default: all
      source columns win)
    * not matched → source row inserted (if enabled), else dropped — a
      NULL-key source row never matches, as in PG MERGE

    Returns the new table state (same schema as target).
    """
    kc = key_cols(key)
    # which side a full_outer row came from: a NULL key cannot tell
    t = target.withColumn("__in_t", F.lit(True)).alias("t")
    s = source.withColumn("__in_s", F.lit(True)).alias("s")
    cond = _and_all([F.col(f"t.{k}") == F.col(f"s.{k}") for k in kc])
    joined = t.join(s, cond, "full_outer")

    has_t = F.col("t.__in_t").isNotNull()
    has_s = F.col("s.__in_s").isNotNull()

    out_cols = []
    for c in target.columns:
        src = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        if when_matched_update is not None and c in when_matched_update:
            upd = when_matched_update[c]
        elif when_matched_update is None:
            upd = src
        else:
            upd = F.col(f"t.{c}")
        val = (
            F.when(has_t & has_s, upd)
            .when(has_t, F.col(f"t.{c}"))
            .otherwise(src)
        )
        out_cols.append(val.alias(c))

    keep = F.lit(True)
    if when_matched_delete is not None:
        keep = ~(has_t & has_s & when_matched_delete)
    if not when_not_matched_insert:
        keep = keep & has_t

    return joined.where(keep).select(*out_cols)


def upsert(target: DataFrame, source: DataFrame, key) -> DataFrame:
    """INSERT ... ON CONFLICT DO UPDATE (insert_conflict.test): source rows
    replace same-key target rows, new keys append."""
    return merge_into(target, source, key)


def upsert_set(target: DataFrame, rows: DataFrame, key,
               set_sql: dict[str, str],
               where_sql: str | None = None) -> DataFrame:
    """INSERT ... ON CONFLICT (key) DO UPDATE SET col = expr
    (insert_conflict.test t3/t4: partial assignment lists, EXCLUDED.*
    references). The incoming row is joined in with its columns renamed
    ``__exc_<c>`` so the assignment expressions (pre-rewritten from
    ``EXCLUDED.c``) can see both versions; non-conflicting incoming rows
    append. One equi-join — AQE broadcasts the small side."""
    kc = key_cols(key)
    exc = rows.select(
        *[F.col(c).alias(f"__exc_{c}") for c in rows.columns])
    joined = target.join(
        exc, _and_all([F.col(k) == F.col(f"__exc_{k}") for k in kc]),
        "left")
    hit = _and_all([F.col(f"__exc_{k}").isNotNull() for k in kc])
    if where_sql is not None:
        hit = hit & F.coalesce(F.expr(where_sql), F.lit(False))
    out = []
    for c in target.columns:
        if c in set_sql:
            out.append(F.when(hit, F.expr(set_sql[c]))
                       .otherwise(F.col(c)).alias(c))
        else:
            out.append(F.col(c))
    updated = joined.select(*out)
    tgt_keys = target.select(*kc)
    for k in kc:
        tgt_keys = tgt_keys.where(F.col(k).isNotNull())
    fresh = rows.join(tgt_keys, kc, "left_anti")
    return updated.unionByName(fresh)


def insert_rows(
    target: DataFrame,
    rows: DataFrame,
    key,
    on_conflict: str = "error",
) -> DataFrame:
    """INSERT with PK-conflict handling (insert_conflict.test semantics;
    composite keys per update_pk.test multi_pk):

      * ``"error"``   — plain INSERT: raises on any duplicate key, either
        against the target or WITHIN the inserted batch (the reference
        rejects both), and nothing is applied (all-or-nothing).
      * ``"nothing"`` — ON CONFLICT DO NOTHING: conflicting rows skipped.
      * ``"replace"`` — INSERT OR REPLACE: upsert.
    """
    kc = key_cols(key)
    if on_conflict == "replace":
        return upsert(target, rows, key)
    if on_conflict == "nothing":
        fresh = rows.join(target.select(*kc), kc, "left_anti") \
            .dropDuplicates(kc)
        return target.unionByName(fresh)
    if on_conflict != "error":
        raise ValueError(f"unknown on_conflict mode {on_conflict!r}")
    def _desc(row) -> str:
        if len(kc) == 1:
            return f"{kc[0]}={row[0]!r}"
        return f"({', '.join(kc)})={tuple(row[:len(kc)])!r}"

    dup_batch = (
        rows.groupBy(*kc).count().where(F.col("count") > 1)
        .select(*kc).limit(1).collect()
    )
    if dup_batch:
        raise ValueError(
            f"duplicate key {_desc(dup_batch[0])} within the inserted "
            "batch violates the primary key constraint"
        )
    clash = (
        rows.join(target.select(*kc), kc, "left_semi")
        .select(*kc).limit(1).collect()
    )
    if clash:
        raise ValueError(
            f"duplicate key {_desc(clash[0])} violates the primary "
            "key constraint"
        )
    return target.unionByName(rows)


def update_where(
    target: DataFrame, cond: Column, assignments: dict[str, Column]
) -> DataFrame:
    """UPDATE target SET col=expr WHERE cond."""
    cols = [
        F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
        if c in assignments else F.col(c)
        for c in target.columns
    ]
    return target.select(*cols)


def delete_where(target: DataFrame, cond: Column) -> DataFrame:
    """DELETE FROM target WHERE cond (NULL-safe: NULL cond keeps the row,
    matching SQL DELETE's 3VL)."""
    return target.where(~F.coalesce(cond, F.lit(False)))


def update_matching(
    target: DataFrame, keys: DataFrame, key,
    assignments: dict[str, Column],
) -> DataFrame:
    """UPDATE rows whose `key` appears in `keys` (the claimed match set
    of a search predicate, resolved through the inverted index). One
    equi-join on the key — distributed at any size, and broadcast by AQE
    when the match set is small."""
    kc = key_cols(key)
    marked = target.join(
        keys.select(*kc).distinct().withColumn("__hit", F.lit(True)),
        kc, "left")
    hit = F.col("__hit").isNotNull()
    cols = [
        F.when(hit, assignments[c]).otherwise(F.col(c)).alias(c)
        if c in assignments else F.col(c)
        for c in target.columns
    ]
    return marked.select(*cols)


def delete_matching(target: DataFrame, keys: DataFrame,
                    key) -> DataFrame:
    """DELETE rows whose `key` appears in `keys`: one anti-join."""
    kc = key_cols(key)
    return target.join(keys.select(*kc).distinct(), kc, "left_anti")
