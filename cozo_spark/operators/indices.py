"""Index management: regular (covering), HNSW-contract vector, FTS, LSH.

Reference surfaces: ::index / ::hnsw / ::fts / ::lsh create/drop
(parse/sys.rs:30-74, runtime/db.rs:1192-1454), search execution
(HnswSearchRA / FtsSearchRA / LshSearchRA, query/ra.rs:896-1124).

Spark realization per kind:
- regular: a projection definition — DataFrames are lazy views, so the
  "index" is always fresh; Catalyst's column pruning is the covering-read.
- hnsw: we keep the HNSW *result contract* (top-k by distance, optional
  radius + bind distance) and serve it with exact cosine/L2 top-k, or IVF
  probing when built with `ivf: true` (runtime/hnsw.rs is a single-node
  pointer graph — not a distributed design; exact top-k over a columnar
  scan is the Spark-native equivalent at these selectivities).
- fts: materialized inverted index (operators/fts.py) rebuilt lazily after
  relation mutation.
- lsh: materialized MinHash signatures + band buckets (operators/dedup.py);
  query = same signature pipeline on the probe string, band-bucket join.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class IndexDef:
    kind: str                      # 'regular' | 'hnsw' | 'fts' | 'lsh'
    options: dict = field(default_factory=dict)
    columns: list = field(default_factory=list)
    artifact: Any = None           # built artifact; None → rebuild lazily


def invalidate(rel) -> None:
    for idx in rel.indices.values():
        idx.artifact = None


def apply_mutation(rel, kind: str, rows: DataFrame) -> None:
    """Incrementally maintain built index artifacts after a mutation
    (reference fts/indexing.rs + minhash_lsh.rs update the stored index
    relations per-row inside the mutation transaction; here the artifact
    frames are patched with a delta instead of a full rebuild — at scale
    the difference is retokenizing the CHANGED rows vs the whole corpus).

    Falls back to lazy full rebuild (artifact = None) when the artifact
    isn't built yet or the mutated rows lack the columns the index needs
    (e.g. an :update that doesn't carry the extractor column)."""
    for idx in rel.indices.values():
        if idx.artifact is None:
            continue
        try:
            if idx.kind == "fts":
                idx.artifact = _fts_apply(rel, idx, kind, rows)
            elif idx.kind == "lsh" and isinstance(idx.artifact, dict):
                idx.artifact = _lsh_apply(rel, idx, kind, rows)
            elif idx.kind in ("hnsw",):
                # IVF centroids go stale on mutation; exact needs no build
                idx.artifact = None if isinstance(idx.artifact, dict) else idx.artifact
            # regular indices are lazy views — always fresh
        except _IncrementalUnsupported:
            idx.artifact = None


class _IncrementalUnsupported(Exception):
    pass


def _fts_apply(rel, idx: IndexDef, kind: str, rows: DataFrame):
    from cozo_spark.datalog.fixpoint import _checkpoint
    from cozo_spark.operators.fts import (FtsIndex, build_fts_index,
                                          with_doc_freq)

    art = idx.artifact
    key = rel.key_names[0]
    extractor = idx.options.get("extractor")
    if key not in rows.columns:
        raise _IncrementalUnsupported
    ids = rows.select(F.col(key).alias("doc_id")).distinct()
    base = art.df.join(ids, "doc_id", "left_anti")
    if kind == "put":
        # re-read the affected rows from the POST-mutation relation — the
        # raw mutation rows may be partial (:update carries only changed
        # columns; NULL means keep-old after the coalesce merge)
        fresh = rel.df.join(ids.withColumnRenamed("doc_id", key), key, "left_semi")
        add = build_fts_index(fresh, extractor, key, art.tokenizer, art.filters)
        base = base.drop("doc_freq").unionByName(add)
    return FtsIndex(_checkpoint(with_doc_freq(base)), rel.df.count(),
                    art.tokenizer, art.filters)


def _lsh_apply(rel, idx: IndexDef, kind: str, rows: DataFrame):
    from cozo_spark.datalog.fixpoint import _checkpoint
    from cozo_spark.operators.dedup import minhash_signatures

    art = idx.artifact
    key = rel.key_names[0]
    extractor = idx.options.get("extractor")
    if key not in rows.columns:
        raise _IncrementalUnsupported
    ids = rows.select(key).distinct()
    sigs = art["sigs"].join(ids, key, "left_anti")
    if kind == "put":
        # post-mutation truth for the affected keys (see _fts_apply)
        base = rel.df.join(ids, key, "left_semi")
        filt = idx.options.get("extract_filter")
        if filt is not None:
            from cozo_spark.datalog.translate import _df_typer, compile_expr

            base = base.filter(compile_expr(filt, set(base.columns), _df_typer(base)))
        add = minhash_signatures(base, extractor, key,
                                 num_perm=art["n_perm"], shingle_n=art["n_gram"],
                                 hash_fn=art.get("hash_fn", "md5"))
        sigs = sigs.unionByName(add)
    sigs = _checkpoint(sigs)
    n_rows_b, n_bands = art["n_rows"], art["n_bands"]
    banded = sigs.select(
        key,
        F.posexplode(F.array(*[
            F.xxhash64(F.slice("sig", i * n_rows_b + 1, n_rows_b))
            for i in range(n_bands)
        ])).alias("band_idx", "band_hash"))
    return {**art, "sigs": sigs, "banded": _checkpoint(banded)}


def ensure_artifact(db, rel, idx_name: str) -> IndexDef:
    idx = rel.indices.get(idx_name)
    if idx is None:
        raise KeyError(f"index {rel.name}:{idx_name} not found")
    if idx.artifact is not None:
        return idx
    if idx.kind == "fts":
        from cozo_spark.operators.fts import FtsIndex

        from cozo_spark.operators.fts import normalize_filters

        extractor = idx.options.get("extractor")
        tokenizer = str(idx.options.get("tokenizer", "Simple"))
        filters = normalize_filters(idx.options.get("filters", ("Lowercase",)))
        idx.artifact = FtsIndex.build(rel.df, extractor, rel.key_names[0],
                                      tokenizer, filters)
    elif idx.kind == "lsh":
        from cozo_spark.operators.dedup import (
            find_optimal_lsh_params, minhash_signatures)
        from cozo_spark.datalog.fixpoint import _checkpoint

        extractor = idx.options.get("extractor")
        # defaults mirror the reference's ::lsh create (parse/sys.rs:238-242)
        n_perm = int(idx.options.get("n_perm", 200))
        n_gram = int(idx.options.get("n_gram", 1))
        # band planning from the target threshold (parse/sys.rs:240-242
        # defaults; relation.rs:793-801 then uses b·r as the effective perm
        # count). Explicit n_bands/n_rows_in_band override the planner.
        threshold = float(idx.options.get("target_threshold", 0.9))
        fpw = float(idx.options.get("false_positive_weight", 1.0))
        fnw = float(idx.options.get("false_negative_weight", 1.0))
        if "n_bands" in idx.options and "n_rows_in_band" in idx.options:
            n_bands = int(idx.options["n_bands"])
            n_rows = int(idx.options["n_rows_in_band"])
        else:
            n_bands, n_rows = find_optimal_lsh_params(threshold, n_perm, fpw, fnw)
        n_perm = n_bands * n_rows
        base = rel.df
        filt = idx.options.get("extract_filter")
        if filt is not None:
            # extract_filter: expression over the relation's columns — rows
            # failing it are not indexed (parse/sys.rs lsh options)
            from cozo_spark.datalog.translate import _df_typer, compile_expr

            base = base.filter(compile_expr(filt, set(base.columns), _df_typer(base)))
        # hash: 'md5' (oracle-reproducible default) | 'xxhash64'
        # (production — one native hash per shingle; extension over the
        # reference's option set)
        hash_fn = str(idx.options.get("hash", "md5"))
        sigs = minhash_signatures(base, extractor, rel.key_names[0],
                                  num_perm=n_perm, shingle_n=n_gram,
                                  hash_fn=hash_fn)
        sigs = _checkpoint(sigs)
        # banded bucket frame: the scale path for probes — a probe joins on
        # (band_idx, band_hash) and touches only colliding docs, not the
        # whole signature table
        key = rel.key_names[0]
        banded = sigs.select(
            key,
            F.posexplode(F.array(*[
                F.xxhash64(F.slice("sig", i * n_rows + 1, n_rows))
                for i in range(n_bands)
            ])).alias("band_idx", "band_hash"))
        idx.artifact = {"sigs": sigs, "banded": _checkpoint(banded),
                        "n_perm": n_perm, "n_gram": n_gram,
                        "n_bands": n_bands, "n_rows": n_rows,
                        "threshold": threshold, "hash_fn": hash_fn}
    elif idx.kind == "hnsw":
        if idx.options.get("ivf"):
            from cozo_spark.operators.similarity import ivf_build

            vec_col = _hnsw_field(idx)
            cents, assigned = ivf_build(
                rel.df.select(F.col(rel.key_names[0]).alias("vec_id"),
                              F.col(vec_col).alias("embedding")),
                n_centroids=int(idx.options.get("n_centroids", 16)))
            idx.artifact = {"centroids": cents, "assigned": assigned}
        else:
            idx.artifact = "exact"  # no build needed: scan-time top-k
    elif idx.kind == "regular":
        idx.artifact = "view"
    return idx


def _hnsw_field(idx: IndexDef) -> str:
    fields = idx.options.get("fields") or idx.columns
    if isinstance(fields, (list, tuple)):
        return fields[0]
    return fields


def search(db, rel, idx_name: str, opts: dict,
           columns: list) -> tuple[DataFrame, bool]:
    """Execute a `~rel:idx{...}` search for the top-k matches.

    Returns ``(frame, key_unique)``. The frame holds the relation's key,
    the ``columns`` of the relation the atom reads, and the score/distance
    columns named per the bind_* options; FTS and LSH read the relation
    only when ``columns`` name more than its key. ``key_unique`` says the
    frame has at most one row per key whenever the relation does (FTS and
    LSH score each document once; HNSW yields a row per indexed field)."""
    idx = ensure_artifact(db, rel, idx_name)
    key = rel.key_names[0]
    k = int(opts.get("k", 10))
    key_only = set(columns) <= {key}
    if idx.kind == "fts":
        candidates = None
        if opts.get("filter") is not None:
            from cozo_spark.datalog.translate import _df_typer, compile_expr

            fcol = compile_expr(opts["filter"], set(rel.df.columns), _df_typer(rel.df))
            candidates = rel.df.filter(fcol).select(F.col(key).alias("doc_id"))
        posting = idx.artifact.search(
            str(opts["query"]), k=k,
            score_kind=str(opts.get("score_kind", "tf_idf")),
            candidates=candidates)
        out = (posting.withColumnRenamed("doc_id", key)
               .withColumnRenamed("score", str(opts.get("bind_score", "score"))))
        return (out if key_only else rel.df.join(out, key)), True
    if idx.kind == "hnsw":
        # every indexed FIELD of every row is a point (hnsw.rs: multi-field
        # indices insert one graph node per field); bind_field/bind_field_idx
        # report which field matched
        fields = idx.options.get("fields") or idx.columns
        if not isinstance(fields, (list, tuple)):
            fields = [fields]
        qv = opts["query"]
        dist_name = str(opts.get("bind_distance", "distance"))
        distance_kind = str(idx.options.get("distance", "Cos"))
        q = F.array(*[F.lit(float(x)) for x in qv])

        def _dist(vec_col):
            v = F.col(vec_col).cast("array<double>")
            if distance_kind.lower().startswith("l2"):
                return F.sqrt(F.aggregate(F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
                                          F.lit(0.0), lambda a, x: a + x))
            dot = F.aggregate(F.zip_with(v, q, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
            nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
            nq = F.sqrt(F.aggregate(F.transform(q, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
            return 1.0 - dot / (nv * nq)

        parts = []
        for fi, vec_col in enumerate(fields):
            part = (rel.df.withColumn(dist_name, _dist(vec_col))
                    .withColumn("__fld", F.lit(str(vec_col)))
                    .withColumn("__fidx", F.lit(fi).cast("long")))
            if "bind_vector" in opts:
                part = part.withColumn(str(opts["bind_vector"]), F.col(vec_col))
            parts.append(part)
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.unionByName(p)
        if opts.get("filter") is not None:
            # filter expression over the relation's columns, applied before
            # top-k — the reference evaluates it during the graph walk
            # (HnswSearch filter, data/program.rs:989); set-at-a-time here
            from cozo_spark.datalog.translate import _df_typer, compile_expr

            fcol = compile_expr(opts["filter"], set(rel.df.columns), _df_typer(rel.df))
            scored = scored.filter(fcol)
        if "radius" in opts:
            scored = scored.filter(F.col(dist_name) <= float(opts["radius"]))
        if "bind_field" in opts:
            scored = scored.withColumn(str(opts["bind_field"]), F.col("__fld"))
        if "bind_field_idx" in opts:
            scored = scored.withColumn(str(opts["bind_field_idx"]), F.col("__fidx"))
        return (scored.orderBy(F.col(dist_name).asc(), F.col(key).asc(),
                               F.col("__fidx").asc())
                .drop("__fld", "__fidx").limit(k)), False
    if idx.kind == "lsh":
        matches = _lsh_search(db, rel, idx, str(opts["query"]), k,
                              filter_expr=opts.get("filter"))
        return (matches if key_only else rel.df.join(matches, key)), True
    raise KeyError(f"index kind {idx.kind!r} is not searchable")


def _lsh_search(db, rel, idx: IndexDef, query_text: str, k: int,
                filter_expr=None) -> DataFrame:
    """(key, est_jaccard) of the top-k documents whose MinHash signature
    shares a band with the probe's."""
    from cozo_spark.operators.dedup import minhash_signatures

    art = idx.artifact
    n_perm = art["n_perm"]
    from cozo_spark.plans.local import local_frame
    probe_df = local_frame(db.spark, [(0, query_text)], "qid long, text string")
    # probe MUST hash shingles the same way the index was built
    # (an md5 probe against an xxhash64 index would never collide)
    probe = minhash_signatures(probe_df, "text", "qid", num_perm=n_perm,
                               shingle_n=art["n_gram"],
                               hash_fn=art.get("hash_fn", "md5"))
    key = rel.key_names[0]
    # banded candidate retrieval (LshSearchRA ra.rs:1068-1124): the probe's
    # band hashes join the prebuilt bucket frame, so only colliding docs are
    # scored — at scale this reads |candidates|, not |corpus|
    n_bands, n_rows = art["n_bands"], art["n_rows"]
    probe_bands = probe.select(
        F.posexplode(F.array(*[
            F.xxhash64(F.slice("sig", i * n_rows + 1, n_rows))
            for i in range(n_bands)
        ])).alias("band_idx", "band_hash"))
    cands = (art["banded"]
             .join(F.broadcast(probe_bands), ["band_idx", "band_hash"])
             .select(key).distinct())
    est = F.aggregate(
        F.zip_with("sig", "qsig", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda a, x: a + x) / F.lit(float(n_perm))
    matches = (
        art["sigs"].join(cands, key)
        .crossJoin(F.broadcast(probe.select(F.col("sig").alias("qsig"))))
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") > 0)
        .select(key, "est_jaccard")
    )
    if filter_expr is not None:
        # filter: option (LshSearch, data/program.rs:1151) — restrict the
        # candidate set before top-k
        from cozo_spark.datalog.translate import _df_typer, compile_expr

        fcol = compile_expr(filter_expr, set(rel.df.columns), _df_typer(rel.df))
        matches = matches.join(rel.df.filter(fcol).select(key), key,
                               "left_semi")
    return matches.orderBy(F.col("est_jaccard").desc(), F.col(key)).limit(k)


def hnsw_graph_df(db, rel, idx_name: str) -> DataFrame:
    """The HNSW index queryable AS A GRAPH (reference README v0.6: "the HNSW
    index is no more than a hierarchy of proximity graphs ... exposed to the
    end user to be used as regular graphs in your query").

    Spark-native re-expression: the reference's on-disk index relation holds
    (layer, fr_key..., to_key..., dist) edge tuples of the navigable
    small-world graph. We expose the layer-0 proximity graph as a k-NN edge
    DataFrame with the same column shape — `layer` (always 0 here: the upper
    HNSW layers exist only to accelerate single-node graph descent, which
    Spark replaces with scan parallelism), `fr_<key>`, `to_<key>`, `dist`.
    Each node links to its m_neighbours nearest; with an IVF-built index the
    candidate pairs are restricted per centroid partition (the scale path —
    exact all-pairs is quadratic and only used for non-IVF indices).
    """
    idx = ensure_artifact(db, rel, idx_name)
    if idx.kind != "hnsw":
        raise ValueError(f"{rel.name}:{idx_name} is not an hnsw index")
    m = int(idx.options.get("m_neighbours", idx.options.get("m", 8)))
    vec_col = _hnsw_field(idx)
    key = rel.key_names[0]
    distance_kind = str(idx.options.get("distance", "Cos")).lower()
    base = rel.df.select(F.col(key).alias("__fr"), F.col(vec_col).alias("__v"))
    if isinstance(idx.artifact, dict) and "assigned" in idx.artifact:
        # IVF: pair only within a centroid's partition
        asg = idx.artifact["assigned"].select(
            F.col("vec_id").alias("__fr"), F.col("cid").alias("__cid"))
        left = base.join(asg, "__fr")
        right = left.select(F.col("__fr").alias("__to"),
                            F.col("__v").alias("__w"), "__cid")
        cand = left.join(right, "__cid").filter(F.col("__fr") != F.col("__to"))
    else:
        right = base.select(F.col("__fr").alias("__to"), F.col("__v").alias("__w"))
        cand = base.crossJoin(right).filter(F.col("__fr") != F.col("__to"))
    dot = F.aggregate(F.zip_with("__v", "__w", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    if distance_kind.startswith("l2"):
        dist = F.sqrt(F.aggregate(
            F.zip_with("__v", "__w", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda a, x: a + x))
    elif distance_kind.startswith("ip"):
        dist = -dot
    else:  # cosine distance
        n1 = F.sqrt(F.aggregate(F.transform("__v", lambda x: x * x),
                                F.lit(0.0), lambda a, x: a + x))
        n2 = F.sqrt(F.aggregate(F.transform("__w", lambda x: x * x),
                                F.lit(0.0), lambda a, x: a + x))
        dist = F.lit(1.0) - dot / (n1 * n2)
    from pyspark.sql import Window as W

    scored = cand.select("__fr", "__to", dist.alias("dist"))
    w = W.partitionBy("__fr").orderBy(F.col("dist").asc(), F.col("__to"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= m)
        .select(F.lit(0).cast("long").alias("layer"),
                F.col("__fr").alias(f"fr_{key}"),
                F.col("__to").alias(f"to_{key}"),
                F.col("dist"))
    )
