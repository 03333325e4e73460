"""DataFrame-level dedup operators: sketch → band → candidates → verify.

Maps SURVEY.md §2.2's dataflow stages onto Catalyst-friendly primitives:
- signatures: one Arrow-batched pandas UDF (the only Python in the plan)
- band keys: **native** ``transform + xxhash64 + posexplode`` — banding stays
  inside whole-stage codegen, no Python
- candidate generation: bucket-capped self-join on (band_id, band_key) with
  AQE skew-join; the cap is the explicit skew policy (a viral band key with
  10^6 members would emit 10^12 pairs)
- verify: native ``zip_with`` equal-slot estimate (``jaccard.rs:9-19``) plus
  exact re-shingled Jaccard via a vectorized pair UDF
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import DedupConfig
from ..functions.sketch_udfs import make_pair_jaccard_udf, make_sketch_udf
from .cache import pin


def with_doc_id(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Deterministic 64-bit doc id from the row key (resume-safe, unlike
    monotonically_increasing_id)."""
    return df.withColumn(id_col, F.xxhash64(*[F.col(c) for c in key_cols]))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input has
    fewer splits (e.g. one small parquet file -> one partition -> a pandas
    UDF stage runs on ONE core).  A no-op at scale, where scans already
    produce >= parallelism splits.

    The probe is PLAN-SIDE only — no DataFrame-to-RDD conversion per call
    (round-2 verdict minor):
    - a plan that already contains an explicit Repartition/Rebalance NODE
      (checked against logical-plan class names in the plan JSON, not the
      pretty-printed string, so column names/literals can't false-match) is
      trusted — the caller chose its parallelism;
    - file-backed plans ask Spark for their split count: the partitions of
      each file scan's input RDD in the physical plan (FilePartition
      packing, non-splittable codecs and all — planning only, no job);
    - fileless DRIVER-LOCAL plans (LocalRelation / LogicalRDD — in-memory
      test frames, parallelized pandas) repartition to the cluster
      parallelism: they are driver-local-sized by construction, so the
      shuffle is cheap and the UDF stage gets full fan-out.  Other fileless
      plans (JDBC relations, ranges, streaming-derived frames) are left
      untouched — their sources already chose a partitioning, and an
      unconditional repartition would pay a full shuffle and could COALESCE
      a well-partitioned large input down to the core count (r3 ADVICE).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    plan_json = df._jdf.queryExecution().analyzed().toJSON()
    if (
        "plans.logical.Repartition" in plan_json
        or "plans.logical.RebalancePartitions" in plan_json
    ):
        return df
    files = df.inputFiles()
    if not files:
        if (
            "plans.logical.LocalRelation" in plan_json
            or "execution.LogicalRDD" in plan_json
        ):
            return df.repartition(target)
        return df
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    leaves = conv.asJava(df._jdf.queryExecution().sparkPlan().collectLeaves())
    splits = sum(
        leaf.inputRDD().getNumPartitions()
        for leaf in leaves
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    )
    return df if splits >= target else df.repartition(target)


def with_signature(
    df: DataFrame,
    cfg: DedupConfig,
    content_col: str = "content",
    sig_col: str = "sig",
) -> DataFrame:
    """Attach the configured minhash signature (array, length m) — the UDF
    stage is fanned out to full parallelism first (see ensure_parallelism)."""
    sketch = make_sketch_udf(cfg)
    return ensure_parallelism(df).withColumn(sig_col, sketch(F.col(content_col)))


def band_explode(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """signature -> (id, band_id, band_key) rows, all JVM-native.

    band_key = xxhash64(slice of r consecutive signature slots, seed=band_id);
    equal keys <=> equal slot runs (LSH banding over S29 slot equality).
    """
    b, r = cfg.bands, cfg.rows
    bands = F.expr(
        f"transform(sequence(0, {b - 1}), b -> xxhash64(slice({sig_col}, b*{r}+1, {r}), b))"
    )
    return df.select(
        F.col(id_col),
        F.posexplode(bands).alias("band_id", "band_key"),
    )


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    on_capped: str = "star",
) -> tuple[DataFrame, DataFrame]:
    """Band buckets -> candidate pairs (id_l < id_r) with the explicit skew
    policy (SURVEY.md §2.2): buckets up to ``bucket_cap`` expand pairwise via
    self-join (O(size^2)); larger (viral/mega) buckets expand as a *star*
    around the bucket's min id (O(size)) — bounded cost, exact-duplicate
    recall preserved (dup groups still connect through the anchor), and every
    capped bucket is reported in the audit side-channel.

    ``on_capped`` is the one place the skew policy is decided:
    - ``"star"`` (the scale default): star-expand capped buckets; the audit
      frame is returned lazily and nothing here evaluates it.
    - ``"fail"``: eagerly assert no bucket was capped and raise otherwise.
      Use this wherever output is compared against an all-pairs oracle —
      silent star-capping would diverge from brute force on a viral corpus.
    - ``"record"``: star-expand, for callers that also write the audit frame
      out (the staged pipeline).

    Returns (pairs, capped_buckets).
    """
    if on_capped not in ("star", "fail", "record"):
        raise ValueError(f"bad on_capped {on_capped!r}")
    # ONE shuffle: group bucket members into an array, expand pairs natively
    # in a single CASE branch (no self-join; one subtree so the upstream
    # sketch UDF executes exactly once in the candidate plan)
    buckets = bands.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") >= 2)
    # pinned when the bucket table has a second consumer — the audit
    # (evaluated eagerly under "fail", written out under "record") next to
    # the pair expansion — so the band shuffle + collect_list aggregation
    # execute once.  Under "star" the pairs are the only consumer and the
    # cache write would be pure overhead.  Lifetime: caller's cache_scope(),
    # same contract as the signature pin in dedup_edges.
    if on_capped != "star":
        buckets = pin(buckets)
    capped = buckets.filter(F.size("ids") > cfg.bucket_cap).select(
        "band_id", "band_key", F.size("ids").alias("bucket_size")
    )
    if on_capped == "fail":
        hit = capped.limit(1).collect()
        if hit:
            r = hit[0]
            raise RuntimeError(
                f"band bucket (band_id={r['band_id']}, band_key={r['band_key']})"
                f" has bucket_size={r['bucket_size']} members >"
                f" bucket_cap={cfg.bucket_cap}; star-capped output would"
                " silently diverge from an all-pairs oracle — raise bucket_cap"
                " or use on_capped='star'"
            )
    expand = (
        "CASE WHEN size(ids) <= {cap} THEN "
        "  flatten(transform(ids, (x, i) ->"
        "    transform(slice(ids, i + 2, size(ids) - i - 1),"
        "    y -> struct(x AS id_l, y AS id_r)))) "
        "ELSE "  # star expansion: every member pairs with the min id only
        "  transform(slice(ids, 2, size(ids) - 1),"
        "    y -> struct(element_at(ids, 1) AS id_l, y AS id_r)) "
        "END"
    ).format(cap=cfg.bucket_cap)
    pairs = (
        buckets.select(F.explode(F.expr(expand)).alias("p"))
        .select("p.id_l", "p.id_r")
        .where(F.col("id_l") != F.col("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )
    return pairs, capped


def pair_endpoints(
    pairs: DataFrame, side: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach every non-id column ``c`` of ``side`` to both ends of an
    ``(id_l, id_r)`` pair frame as ``c_l`` and ``c_r``: one equi-join on the
    id per endpoint.

    No broadcast hint: ``pairs`` comes out of a shuffle stage, so AQE has its
    true runtime size and converts a join to a broadcast exactly when it fits
    under spark.sql.adaptive.autoBroadcastJoinThreshold.  When the pair set
    is large (viral corpora at 100x scale) the joins stay shuffled hash joins
    on the id key (preferSortMergeJoin=false in session.py) — no driver OOM
    from force-broadcasting an unbounded pair set.
    """
    cols = [c for c in side.columns if c != id_col]
    for sfx in ("_l", "_r"):
        end = side.withColumnsRenamed({id_col: "id" + sfx, **{c: c + sfx for c in cols}})
        pairs = pairs.join(end, "id" + sfx)
    return pairs


def estimate_pair_jaccard(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    content_col: str = "content",
) -> DataFrame:
    """Attach Ĵ = equal-slot fraction of the two signatures — native zip_with,
    stays in codegen (S29, ``jaccard.rs:9-19``).

    The two endpoint joins (:func:`pair_endpoints`) also carry each end's
    ``content`` (``content_l``/``_r``) for :func:`verify_pairs`, which joins
    nothing.  Content therefore rides along for every candidate pair, not
    only those at or above ``est_low_cut``.
    """
    side = sig_df.select(
        F.col(id_col), F.col(sig_col).alias("sig"), F.col(content_col).alias("content")
    )
    return (
        pair_endpoints(pairs, side, id_col)
        .withColumn(
            "j_est",
            F.expr(
                "aggregate(zip_with(sig_l, sig_r, (x, y) -> if(x = y, 1, 0)),"
                " 0, (acc, v) -> acc + v) / cast(size(sig_l) as double)"
            ),
        )
        .drop("sig_l", "sig_r")
    )


def verify_pairs(pairs_with_est: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Exact-Jaccard verification of estimate survivors -> edges.

    Takes :func:`estimate_pair_jaccard`'s output, whose endpoint joins
    already carry both contents; the cheap ``est_low_cut`` filter runs
    first, so the expensive re-shingle UDF sees a small fraction of the
    candidates.  One pair UDF (``make_pair_jaccard_udf``)
    scores the multiset Jaccard the sketches estimate: weighted configs use
    shingle counts, set configs unit counts (distinct-set Jaccard).

    Byte-identical pairs take the MASKED equal-content shortcut: native
    string equality (NULL as '', which the UDF scores like '') finds them,
    they feed the UDF empty strings and a native CASE emits the exact 1.0,
    so the dominant dup-dense cost (re-shingling equal bytes per pair)
    disappears with zero plan-shape change.  Value-identical to plain
    per-pair verify: the UDF is a pure function of the two strings.
    """
    surv = pairs_with_est.filter(F.col("j_est") >= cfg.est_low_cut)
    # r6 perf (guide §4.4): the j_exact column feeds both the projection and
    # the >= threshold filter; the optimizer pushes the filter below the
    # projection and DUPLICATES the UDF (two ArrowEvalPython nodes — every
    # surviving pair re-shingles twice).  The function is pure, so marking it
    # nondeterministic only forbids that duplication: one ArrowEvalPython,
    # filter evaluated on the already-computed column, identical values.
    exact_j = make_pair_jaccard_udf(cfg).asNondeterministic()
    # identical bytes always verify to exactly 1.0 (equal multisets -> 1.0,
    # and the empty/empty convention is 1.0 too); the masking happens before
    # Arrow serialization, so equal pairs ship nothing.
    eq = F.coalesce("content_l", F.lit("")) == F.coalesce("content_r", F.lit(""))
    return (
        surv.withColumn(
            "j_exact",
            F.when(eq, F.lit(1.0)).otherwise(
                exact_j(
                    F.when(eq, F.lit("")).otherwise(F.col("content_l")),
                    F.when(eq, F.lit("")).otherwise(F.col("content_r")),
                )
            ),
        )
        .drop("content_l", "content_r")
        .filter(F.col("j_exact") >= cfg.threshold)
    )


def dedup_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    key_cols: list[str] | None = None,
    content_col: str = "content",
    id_col: str = "doc_id",
    on_capped: str = "star",
) -> DataFrame:
    """Full candidate pipeline: docs -> verified duplicate edges
    (id_l, id_r, j_est, j_exact).

    ``on_capped``: skew policy for band buckets larger than ``cfg.bucket_cap``
    (see :func:`candidate_pairs`).  Under ``"star"`` the non-anchor pairs of
    a capped bucket are dropped from the *edge* output (they still cluster
    together through the anchor in connected components).
    """
    if key_cols is not None:
        docs = with_doc_id(docs, key_cols, id_col)
    # persist signatures (with content): they feed banding AND both endpoint
    # joins — without it the sketch UDF would execute three times.  (The staged
    # pipeline gets this for free by checkpointing the signatures table.)
    # Lifetime: released by the caller's cache_scope() (see operators.cache);
    # outside a scope the persist lives until clearCache() — caller-managed.
    sigs = pin(with_signature(docs, cfg, content_col).select(id_col, "sig", content_col))
    bands = band_explode(sigs, cfg, id_col)
    pairs, _ = candidate_pairs(bands, cfg, id_col, on_capped=on_capped)
    est = estimate_pair_jaccard(pairs, sigs, cfg, id_col, content_col=content_col)
    return verify_pairs(est, cfg)


def simhash_dup_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    content_col: str = "content",
    on_capped: str = "star",
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance <= ``max_hamming``
    (Manku/Jain/Sarma, WWW'07): split the 64-bit fingerprint into
    ``max_hamming + 1`` blocks — two fingerprints within distance d must
    agree exactly on at least one of d+1 blocks (pigeonhole), so candidates
    are block-equality joins (one shuffle via the shared bucket expansion)
    and verification is a native ``bit_count(sh_l ^ sh_r)``.  Zero Python
    after the fingerprint UDF."""
    from ..functions.sketch_udfs import make_simhash_udf

    n_blocks = max_hamming + 1
    bits = 64 // n_blocks
    sim = make_simhash_udf(cfg)
    # fp persist lifetime: caller's cache_scope() (see operators.cache)
    fp = pin(
        ensure_parallelism(docs).select(
            F.col(id_col), sim(F.col(content_col)).alias("sh")
        )
    )
    block_expr = (
        "transform(sequence(0, {nb} - 1), b -> struct(b AS band_id,"
        " (shiftrightunsigned(sh, b * {bits}) & {mask}) AS band_key))"
    ).format(nb=n_blocks, bits=bits, mask=(1 << bits) - 1)
    bands = fp.select(
        F.col(id_col), F.explode(F.expr(block_expr)).alias("bk")
    ).select(id_col, "bk.band_id", "bk.band_key")
    pairs, _ = candidate_pairs(bands, cfg, id_col, on_capped=on_capped)
    return (
        pair_endpoints(pairs, fp, id_col)
        .withColumn("hamming", F.expr("bit_count(sh_l ^ sh_r)").cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_l", "id_r", "hamming")
    )


def keep_representatives(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The end-user dedup operation: the surviving corpus after removing
    every duplicate except each cluster's min-id representative.  Clusters
    come from connected components over the verified edges; survivors =
    docs whose cluster id is their own id."""
    from .components import assign_clusters

    clustered = assign_clusters(docs, edges, id_col=id_col)
    return clustered.where(F.col("cluster_id") == F.col(id_col)).drop("cluster_id")

