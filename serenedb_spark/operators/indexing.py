"""Inverted-index build & layout — the Spark-native IResearch analogue.

Reference semantics: ``CREATE INDEX ... USING inverted(col tokenizer ...)``
(server/catalog/inverted_index.h:176; build operator
server/connector/duckdb_physical_create_index.cpp). Instead of a custom
columnstore we represent the index as DataFrames, the layout SURVEY.md §7
prescribes:

  postings: (field, term, doc_id, freq, positions array<int>) — a
            query filters it to the (small) claimed terms, so no
            predicate shuffles the corpus. ``save_index`` output is
            partitioned by term hash bucket, so there a term lookup
            also prunes partitions; the in-process persisted postings
            carry no bucket (the term predicate runs in the cached scan).
  docstore: (doc_id, <included columns...>) — IResearch columnstore/INCLUDE.
  stats:    per-(field,term) df; per-(field,doc) length; global N, avgdl —
            feeds BM25/TFIDF/LM formulas
            (reference scorers: server/catalog/scorer_options.cpp:197-199).
  universe: per-(field,doc) rows where the source column is not NULL.

``build_index`` only builds: its six parts are lazy lineage over the
source. An owner that queries the index repeatedly (the SQL door's CREATE
INDEX, ``SereneSession.create_index``, the ES shim's snapshot) calls
``InvertedIndex.persist()``, which holds the parts in Spark's block store
on local disk (``StorageLevel.DISK_ONLY``, under ``spark.local.dir``) —
the analogue of the reference writing IResearch segments once. A part is
persisted on its first read and filled by the first query that runs on
it; all are released when the index object dies (DROP INDEX, DROP TABLE,
a replacing CREATE or refresh, a ROLLBACK that discards it, an ES
snapshot invalidation). ``save_index`` writes the same parts as
partitioned parquet for reopening elsewhere.

100 TB notes: the build is one wide scan + explode + two aggregations (all
map-side-combinable); ``save_index`` writes postings bucketed by term so
term lookups on a reopened index are partition-pruned; stats tables are
tiny (|vocab| and |docs| rows) and always broadcastable.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serenedb_spark.analysis.analyzers import Analyzer, get_analyzer

#: number of term buckets used when persisting postings (pruned joins).
DEFAULT_TERM_BUCKETS = 64


#: the six relations an index build defines, in build order
_PARTS = ("postings", "docstore", "term_stats", "doc_stats", "globals_",
         "universe")


class _Part:
    """One of an index's six relations. Once the index is held
    (InvertedIndex.persist), the first read of the attribute persists the
    relation: a part no query reads is never planned for the cache."""

    def __set_name__(self, owner, name: str) -> None:
        self.name = name

    def __get__(self, idx, owner=None) -> DataFrame:
        if idx is None:  # class access: tells @dataclass "no default"
            raise AttributeError(self.name)
        df = idx.__dict__[self.name]
        held = idx.__dict__.get("_held")
        if held is not None and self.name not in held:
            held[self.name] = df.persist(StorageLevel.DISK_ONLY)
        return df

    def __set__(self, idx, df: DataFrame) -> None:
        idx.__dict__[self.name] = df


@dataclass(eq=False)
class InvertedIndex:
    """An index over one source DataFrame: queryable as relations.

    The reference exposes the index itself as a relation
    (``SELECT ... FROM idx_name``, server/connector/duckdb_index_scan_entry.h);
    here `postings`/`docstore`/`term_dict` ARE DataFrames, so that falls out
    for free. Compared and hashed by identity: each object owns the
    lifetime of its persisted parts and memos.
    """

    name: str
    fields: dict[str, str]  # column -> analyzer name
    key: str
    postings: DataFrame = _Part()
    docstore: DataFrame = _Part()
    term_stats: DataFrame = _Part()  # (field, term, df, ctf)
    doc_stats: DataFrame = _Part()  # (field, doc_id, dl)
    globals_: DataFrame = _Part()  # (field, n_docs, avgdl, total_dl)
    #: (field, doc_id) where the source column IS NOT NULL
    universe: DataFrame = _Part()

    def analyzer(self, field: str) -> Analyzer:
        # resolved once and cached ON the index: the index embeds its
        # dictionary, so a later DROP TEXT SEARCH DICTIONARY cannot
        # break a pinned snapshot still reading it
        # (ts_offsets_isolation.test:50)
        cache = self.__dict__.setdefault("_an_cache", {})
        if field not in cache:
            cache[field] = get_analyzer(self.fields[field])
        return cache[field]

    def default_field(self) -> str:
        return next(iter(self.fields))

    def persist(self) -> "InvertedIndex":
        """Hold the parts on local disk for as long as this object lives.

        Lazy twice over: a part is registered with Spark's cache on its
        first read (see _Part) and filled by the first query that runs on
        it, so an index that is rebuilt and never queried costs nothing.
        When the object is garbage (its owner dropped, replaced or rolled
        it back) a finalizer unpersists the parts, so no owner releases by
        hand. DISK_ONLY: MEMORY_AND_DISK ran no faster on the 5,000-doc
        benchmark corpus and took about 12 MB more JVM heap. Idempotent."""
        if "_held" not in self.__dict__:
            held = self.__dict__["_held"] = {}
            _HOLDERS.add(self)
            release = weakref.finalize(self, _unpersist, held)
            release.atexit = False  # the JVM may be gone by then
        return self

    def memo(self, kind: str) -> dict:
        """A dict living exactly as long as this index, for statistics
        derived from it (an index never changes once built; DML and
        refresh produce new index objects, which start empty)."""
        return self.__dict__.setdefault(f"_memo_{kind}", {})

    def term_dict(self, field: str | None = None) -> DataFrame:
        """Term dictionary with document frequency (drives ts_dict_* facets
        and prefix/wildcard/regexp/fuzzy term expansion)."""
        td = self.term_stats
        if field is not None:
            td = td.where(F.col("field") == field)
        return td


#: live indexes that hold their parts. Spark keys its cache by plan, so
#: two of them can share one entry: a refresh with nothing written
#: rebuilds the very same plans, and the new index's persist of a part
#: joins the old index's entry. A dying index releases a part only when
#: no other holder has the same part.
_HOLDERS: "weakref.WeakSet[InvertedIndex]" = weakref.WeakSet()


def _unpersist(held: dict[str, DataFrame]) -> None:
    others = [ix.__dict__["_held"] for ix in list(_HOLDERS)]
    # derived parts first: term_stats/globals_ were built reading the
    # postings/doc_stats caches
    for name in reversed(_PARTS):
        p = held.get(name)
        if p is None:
            continue
        try:
            if not any(name in o and p.sameSemantics(o[name])
                       for o in others):
                p.unpersist()
        except Exception:  # noqa: BLE001 — its Spark session was stopped
            pass


def build_index(
    df: DataFrame,
    fields: dict[str, str],
    key: str = "doc_id",
    include: list[str] | None = None,
    name: str = "idx",
    exprs: dict[str, "F.Column"] | None = None,
) -> InvertedIndex:
    """Build postings + docstore + stats from a source DataFrame.

    Equivalent of the reference's CREATE INDEX physical operator
    (duckdb_physical_create_index.cpp:908) re-expressed as a declarative
    DataFrame graph: tokenize (JVM expression) → posexplode → two
    aggregations. No Python executes per row.

    ``exprs`` maps a field name to an arbitrary Column expression — the
    reference's indexed-expression keys (CREATE INDEX ... ((lower(name)),
    (doc['price']::INTEGER)); server/catalog/persistence/inverted_index.h
    expression keys, site_docs/cookbook/search/computed-values.test). A
    field named in ``exprs`` is tokenized from that expression instead of
    a physical column; it still gets its own postings/stats/universe rows,
    so every predicate and scorer composes with it unchanged.
    """
    include = include if include is not None else [c for c in df.columns if c != key]
    exprs = exprs or {}

    def _run_starts(s):
        # 0-based offsets where a new term's run begins
        return F.filter(
            F.sequence(F.lit(0), F.size(s) - 1),
            lambda i: (i == 0)
            | (F.get(s, i).getField("term")
               != F.get(s, i - 1).getField("term")),
        )

    def _entries(s, starts):
        # one struct per distinct term: (term, positions within this doc)
        n = F.size(s)
        return F.transform(
            starts,
            lambda st, j: F.struct(
                F.get(s, st).getField("term").alias("term"),
                F.transform(
                    F.slice(s, st + 1,
                            F.coalesce(F.get(starts, j + 1), n) - st),
                    lambda x: x.getField("pos"),
                ).alias("positions"),
            ),
        )

    from serenedb_spark.analysis.analyzers import _bind

    dtypes = dict(df.dtypes)
    postings_parts = []
    doc_stats_parts = []
    an_cache: dict[str, Analyzer] = {}
    for col, analyzer_name in fields.items():
        an = an_cache[col] = get_analyzer(analyzer_name)
        src = exprs[col] if col in exprs else F.col(col)
        if col in exprs:
            src_type = df.select(src.alias("__t")).schema[0].dataType \
                .simpleString()
        else:
            src_type = dtypes.get(col, "")
        if src_type.startswith("array") and analyzer_name != "array":
            # LIST/ARRAY columns index element-wise: analyze each
            # element and concatenate the token streams — the term
            # dictionary then serves the same aggregates as a scalar
            # column (reference ts_dict_list.test; iresearch indexes
            # array values as repeated field instances)
            toks = F.flatten(F.filter(
                F.transform(src, lambda e: an.expr(e)),
                lambda a: a.isNotNull()))
        else:
            toks = an.expr(src)
        # (term, pos) pairs with the ORIGINAL token index (posexplode's
        # pos), null terms dropped — all of it array expressions, no
        # explode yet
        zipped = F.filter(
            F.transform(toks, lambda t, i: F.struct(t.alias("term"),
                                                    i.alias("pos"))),
            lambda s: s.getField("term").isNotNull(),
        )

        # Per-document postings WITHOUT a corpus-wide shuffle (optimization
        # guide §2.4): every (term, doc) group lives inside one row's token
        # array, so grouping is an O(L log L) array_sort + run-length split
        # per document — no Exchange, no ObjectHashAggregate/collect_list.
        # The old shape shuffled every token occurrence through
        # groupBy(field, term, doc_id); at 100 TB that exchange carries the
        # entire tokenized corpus.
        #
        # The whole expression is exploded DIRECTLY inside the Generate
        # (guide §1.2/§7.2 "duplicated subtrees"): materializing it as a
        # projected column first invites PushDownPredicate +
        # InferFiltersFromGenerate to inline the full tokenize+sort tree
        # into filter conjuncts — measured 4 evaluations per row instead
        # of 1, and the pushed filter lands BELOW the parallelizing
        # exchange on a single-partition scan (20.2 s vs 0.8 s for the
        # sparse_ngram3 build at sf0.1). Rows whose token array is empty
        # or null simply generate no postings — no explicit size() > 0
        # filter needed.
        # size guard INSIDE the bound expression: an EMPTY sorted array
        # would otherwise hit sequence(0, -1) == [0, -1] (the descending-
        # sequence trap) in _run_starts and fabricate one term=NULL
        # posting — the analyzer can emit [] for a non-null doc (e.g.
        # classification models with out-of-vocabulary text). NULL/empty
        # yields NULL here, which the Generate skips.
        e = _bind(F.array_sort(zipped),
                  lambda s: F.when(
                      F.size(s) > 0,
                      _bind(_run_starts(s),
                            lambda starts: _entries(s, starts))))
        postings_parts.append(
            df.select(
                F.lit(col).alias("field"),
                F.col(key).alias("doc_id"),
                F.explode(e).alias("e"),
            ).select(
                "field",
                F.col("e.term").alias("term"),
                "doc_id",
                F.size("e.positions").cast("int").alias("freq"),
                F.col("e.positions").alias("positions"),
            )
        )
        # dl = Σ freq = # of non-null tokens — computable per document
        # from the token array directly (no aggregation over postings, no
        # shuffle). Same single-evaluation discipline: explode of a 0/1
        # element array evaluates the tokenize expression ONCE and drops
        # token-less docs (size null/0) in the same Generate, where a
        # select + where would inline it twice.
        doc_stats_parts.append(
            df.select(
                F.lit(col).alias("field"),
                F.col(key).alias("doc_id"),
                F.explode(F.filter(F.array(F.size(zipped)),
                                   lambda n: n > 0)).alias("dl"),
            )
        )

    postings = postings_parts[0]
    for p in postings_parts[1:]:
        postings = postings.unionByName(p)
    doc_stats = doc_stats_parts[0]
    for d in doc_stats_parts[1:]:
        doc_stats = doc_stats.unionByName(d)

    term_stats = (
        postings.groupBy("field", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("freq").cast("long").alias("ctf"),
            # per-term max within-doc frequency: the max-score/WAND bound
            # (reference search/max_score_iterator.hpp keeps the same
            # per-posting-list maximum to skip non-competitive docs)
            F.max("freq").cast("int").alias("max_freq"),
        )
    )

    universe_parts = [
        df.where((exprs[col] if col in exprs else F.col(col)).isNotNull())
        .select(F.lit(col).alias("field"), F.col(key).alias("doc_id"))
        for col in fields
    ]
    universe = universe_parts[0]
    for u in universe_parts[1:]:
        universe = universe.unionByName(u)

    # one row per field: corpus size + average doc length (include docs with
    # zero tokens in N via the base table, as the reference computes norms
    # over all docs in the segment)
    n_total = df.select(F.count(F.lit(1)).alias("n_docs"), F.lit(1).alias("j"))
    globals_ = (
        doc_stats.groupBy("field")
        .agg(F.sum("dl").alias("total_dl"), F.min("dl").alias("mindl"),
             F.lit(1).alias("j"))
        .join(n_total, "j")
        .select(
            "field",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("total_dl") / F.col("n_docs")).alias("avgdl"),
            F.col("total_dl").cast("long").alias("total_dl"),
            F.col("mindl").cast("long").alias("min_dl"),
        )
    )

    docstore = df.select(F.col(key).alias("doc_id"), *include)

    idx = InvertedIndex(
        name=name,
        fields=dict(fields),
        key=key,
        postings=postings,
        docstore=docstore,
        term_stats=term_stats,
        doc_stats=doc_stats,
        globals_=globals_,
        universe=universe,
    )
    # pre-resolve every field's analyzer: the index must keep working
    # from a pinned snapshot after DROP TEXT SEARCH DICTIONARY
    # (ts_offsets_isolation.test:50)
    idx.__dict__["_an_cache"] = an_cache
    # NB: a pure builder — nothing is persisted here; owners that query
    # the index repeatedly call idx.persist() (each part on disk from its
    # first read, released with the index object). No tokenized
    # intermediate is shared between postings and doc_stats (each
    # evaluates its tokenize expression once inside its own Generate):
    # holding one would mean reading its array<struct> token column back
    # from the columnar cache, which is pathologically slow (measured
    # 185 s vs 23 s to recompute postings at the 100× corpus)
    return idx


def term_bucket(term, n_buckets: int = DEFAULT_TERM_BUCKETS):
    """Deterministic term → bucket id (crc32-based, reproducible from
    Python for query-time pruning)."""
    return F.abs(F.crc32(term.cast("string"))) % n_buckets


def py_term_bucket(term: str, n_buckets: int = DEFAULT_TERM_BUCKETS) -> int:
    import zlib

    return abs(zlib.crc32(term.encode())) % n_buckets


def save_index(idx: InvertedIndex, path: str,
               n_buckets: int = DEFAULT_TERM_BUCKETS) -> None:
    """Persist the index layout with PARTITION PRUNING on term buckets:
    postings land under ``postings/bucket=<crc32(term)%N>/``, so a query
    for k terms reads at most k of N directories — the 100 TB discipline:
    the corpus-wide posting store is never scanned, only the claimed
    buckets (reference: per-term posting lists in IResearch segments).
    Docstore is doc_id-sorted for min/max skipping on the late-
    materialization join."""
    (
        idx.postings.withColumn("bucket", term_bucket(F.col("term"), n_buckets))
        .repartition("bucket")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    (
        idx.docstore.repartition(max(idx.docstore.sparkSession.sparkContext
                                     .defaultParallelism, 1), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(f"{path}/docstore")
    )
    idx.term_stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/term_stats")
    idx.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    idx.globals_.coalesce(1).write.mode("overwrite").parquet(f"{path}/globals")
    idx.universe.write.mode("overwrite").parquet(f"{path}/universe")

    # the catalog entry: schema + analyzers + layout version + a snapshot
    # tick (reference: manifest plays server/catalog persistence +
    # tick_domain snapshot id)
    import json
    import os
    import time

    manifest = {
        "name": idx.name,
        "fields": idx.fields,
        "key": idx.key,
        "n_buckets": n_buckets,
        "layout_version": 1,
        "tick": int(time.time() * 1000),
    }
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=2)


def load_index(
    spark: SparkSession, path: str, fields: dict[str, str] | None = None,
    key: str | None = None, name: str | None = None,
) -> InvertedIndex:
    """Open a saved index. fields/key default from the manifest written by
    save_index (the catalog entry, SURVEY §7 layout: manifest.json holds
    schema + analyzers + tick)."""
    import json
    import os

    mpath = f"{path}/manifest.json"
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        fields = fields if fields is not None else m["fields"]
        key = key if key is not None else m["key"]
        name = name if name is not None else m["name"]
    if fields is None:
        raise ValueError(f"no manifest at {mpath}: pass fields= explicitly")
    return InvertedIndex(
        name=name or "idx",
        fields=dict(fields),
        key=key or "doc_id",
        postings=spark.read.parquet(f"{path}/postings"),
        docstore=spark.read.parquet(f"{path}/docstore"),
        term_stats=spark.read.parquet(f"{path}/term_stats"),
        doc_stats=spark.read.parquet(f"{path}/doc_stats"),
        globals_=spark.read.parquet(f"{path}/globals"),
        universe=spark.read.parquet(f"{path}/universe"),
    )
