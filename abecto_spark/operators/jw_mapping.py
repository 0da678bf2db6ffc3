"""Jaro-Winkler entity linking (the reference's
`JaroWinklerMappingProcessor.java:37-127`) as a blocked similarity join.

Pipeline per variable and unordered dataset pair:

  1. value index: distinct (dataset, variable, normalized value) with the
     resource fan-out kept long — scoring cost is per *distinct string*,
     exactly like the reference's trie (hot values dedup before scoring,
     which also de-skews the similarity join).
  2. candidate generation: positional 2-gram blocking over the first four
     characters (``s[0:2], s[1:3], s[2:4]``) — any single edit in the
     prefix still shares a gram, recall measured in tests; ``block="cross"``
     gives the exact cartesian for golden verification.
  3. scoring: the blocking buckets are hash-partitioned across Spark
     tasks; each task scores all of its buckets with one DuckDB (C++)
     self-join + JW over its gathered Arrow batches (mapInArrow) —
     candidates never leave the task; oversized buckets are salted into a
     triangle join (see _score_buckets_duckdb). Pairs touching a
     non-ASCII string are scored in the same task by the exact codepoint
     kernel (functions/jw.py). Exact-semantics fallback: Arrow-batched
     vectorized numpy JW over materialized candidate pairs.
  4. per-direction argmax with **ties kept** (`maxValue`,
     `JaroWinklerMappingProcessor.java:112-127`): ``rank() == 1`` over a
     window — rank, not row_number.
  5. bidirectional filter (`:91-98`, commutativity) = inner join of the
     two argmax sets.
  6. fan-out back to resources (cross product of the matched values'
     resource sets, `:100-104`) — AQE skew-join handles hot values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.jw import jw_score

SYNTHETIC_PREFIX = "\x00jw:"  # sorts before any real resource id

_SCORED_SCHEMA = (
    "d1 string, variable string, v1 string, d2 string, v2 string, score double"
)


def _duckdb_ok(threshold: float) -> bool:
    # DuckDB's boost-threshold JW coincides with the reference's
    # unconditional-boost JW on every pair scoring > 0.82 (functions/jw.py);
    # at exactly 0.82 the identity has an open boundary (jaro exactly 0.7
    # with a 4-char common prefix), so the gate is strict
    if threshold <= 0.82:
        return False
    try:
        import duckdb  # noqa: F401

        return True
    except ImportError:
        return False


def _score_buckets_duckdb(
    keyed: DataFrame, threshold: float, r_min: float, bucket_cap: int = 4000
) -> DataFrame:
    """Quadratic scoring inside each blocking bucket, executed by DuckDB
    (C++) within the task — Arrow traffic is O(strings), the candidate
    pair stream never leaves the engine. Pairs found via several shared
    grams are deduped downstream (output is post-threshold, tiny).

    Skew: a bucket of n strings is n² pairs of work in ONE task; hot
    prefixes (common name stems, CJK bigrams) grow with the value
    universe. Buckets over ``bucket_cap`` rows are *salted into a
    triangle join*: rows get salt s ∈ [0, k), k = ceil(n/cap), and task
    (i, j≥i) scores exactly the cross pairs of salt groups i and j — every
    pair covered once, per-task work ≤ cap², replication factor k on the
    (tiny) string rows instead of a single k²·cap²-pair straggler.

    Execution: the salted rows are hash-partitioned on (variable, bk,
    ti, tj), so every bucket task lands whole in one Spark task. Each
    Spark task gathers its Arrow batches into one table and scores all of
    its bucket tasks with ONE DuckDB self-join keyed on those four
    columns; the diagonal/off-diagonal distinction of the triangle is
    the per-row predicate ``a._ti = a._tj OR a._s <> b._s``. Python and
    DuckDB start once per Spark task, not once per bucket: the fixed
    cost of a call (a connection, Arrow conversion) would otherwise
    dominate the many small buckets."""

    cnt = keyed.groupBy("variable", "bk").agg(F.count("*").alias("_n"))
    k = F.greatest(F.ceil(F.col("_n") / bucket_cap), F.lit(1)).cast("int")
    salted = (
        keyed.join(F.broadcast(cnt), ["variable", "bk"])
        .withColumn("_k", k)
        .withColumn("_s", F.pmod(F.xxhash64("value"), F.col("_k")).cast("int"))
    )
    # row with salt s participates in tasks (i, s) for i<=s and (s, j) for j>s
    tasks = F.expr(
        """
        concat(
          transform(sequence(0, _s), i -> struct(i AS ti, _s AS tj)),
          CASE WHEN _s < _k - 1
               THEN transform(sequence(_s + 1, _k - 1), j -> struct(_s AS ti, j AS tj))
               ELSE array() END
        )
        """
    )
    exploded = (
        salted.withColumn("_t", F.explode(tasks))
        .select(
            "dataset", "variable", "value", "bk", "_s",
            F.col("_t.ti").alias("_ti"), F.col("_t.tj").alias("_tj"),
        )
    )
    parts = int(keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def score(batches):
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..functions.jw import jaro_winkler_batch

        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        # DuckDB's JW walks UTF-8 bytes; pairs touching a non-ASCII string
        # are joined/length-pruned in DuckDB but scored by the exact
        # codepoint kernel
        ascii_ = pc.equal(pc.binary_length(t["value"]), pc.utf8_length(t["value"]))
        t = t.append_column("_ascii", ascii_)
        out_schema = pa.schema(
            [(c, pa.string()) for c in ("d1", "variable", "v1", "d2", "v2")]
            + [("score", pa.float64())]
        )
        pairs = """
            SELECT a.dataset AS d1, a.variable AS variable, a.value AS v1,
                   b.dataset AS d2, b.value AS v2
              FROM t a JOIN t b
                ON a.variable = b.variable AND a.bk = b.bk
               AND a._ti = b._ti AND a._tj = b._tj
               AND a.dataset < b.dataset
               AND (a._ti = a._tj OR a._s <> b._s)
               AND least(length(a.value), length(b.value))
                   >= ? * greatest(length(a.value), length(b.value))
        """
        with duckdb.connect() as con:
            con.execute("SET threads=1")
            con.register("t", t)
            out = con.execute(
                f"""
                SELECT * FROM (
                  SELECT d1, variable, v1, d2, v2,
                         CASE WHEN v1 = v2 THEN 1.0
                              ELSE jaro_winkler_similarity(v1, v2)
                         END::DOUBLE AS score
                    FROM ({pairs} AND a._ascii AND b._ascii)
                ) WHERE score >= ?
                """,
                [r_min, threshold],
            ).fetch_arrow_table().cast(out_schema)
            if not pc.all(ascii_).as_py():
                cand = con.execute(
                    f"{pairs} AND NOT (a._ascii AND b._ascii)", [r_min]
                ).fetch_arrow_table()
                if cand.num_rows:
                    s = pa.array(jaro_winkler_batch(
                        cand["v1"].to_pandas(), cand["v2"].to_pandas()
                    ), pa.float64())
                    cand = cand.append_column("score", s).filter(
                        pc.greater_equal(s, threshold)
                    )
                    out = pa.concat_tables([out, cand.cast(out_schema)])
        yield from out.to_batches()

    return (
        exploded.repartition(parts, "variable", "bk", "_ti", "_tj")
        .mapInArrow(score, _SCORED_SCHEMA)
        .dropDuplicates(["d1", "d2", "variable", "v1", "v2"])
    )


def _block_keys(col):
    """Array of positional 2-gram block keys over the first 4 chars."""
    return F.array_distinct(
        F.array(
            F.substring(col, 1, 2),
            F.substring(col, 2, 2),
            F.substring(col, 3, 2),
        )
    )


def value_index(values: DataFrame, variables: list[str], case_sensitive: bool) -> DataFrame:
    """(dataset, variable, value, resource) with the operator's value
    normalization applied — shared by linking and value-level
    canonicalization so both sides key on identical strings."""
    lit = values.where(
        (F.col("variable").isin(variables)) & (F.col("o_kind") == "literal")
    )
    norm = F.col("o_value") if case_sensitive else F.lower(F.col("o_value"))
    return lit.select("dataset", "variable", norm.alias("value"), "resource").distinct()


def jw_mapping(
    values: DataFrame,
    variables: list[str],
    threshold: float,
    case_sensitive: bool = False,
    block: str = "grams",
    star: bool = False,
    return_value_links: bool = False,
) -> DataFrame:
    """Correspondence edges (src, dst) from JW linking over all unordered
    dataset pairs present in ``values``.

    ``values``: long table (dataset, resource, variable, o_kind, o_value,
    o_datatype, o_lang) — the aspect extraction output.
    """
    idx = value_index(values, variables, case_sensitive)

    strings = idx.select("dataset", "variable", "value").distinct()

    if block == "cross":
        s1 = strings.select(
            F.col("dataset").alias("d1"), "variable", F.col("value").alias("v1")
        )
        s2 = strings.select(
            F.col("dataset").alias("d2"), "variable", F.col("value").alias("v2")
        )
        cand = s1.join(s2, "variable").where(F.col("d1") < F.col("d2"))
    else:
        cand = None
        keyed = strings.select(
            "dataset",
            "variable",
            "value",
            F.explode(_block_keys(F.col("value"))).alias("bk"),
        )

    # Provable length-ratio prune: with prefix boost capped at 4·0.1,
    # jw >= t implies jaro >= (t-0.4)/0.6, and jaro <= (2 + min/max)/3,
    # so min_len/max_len >= 3·(t-0.4)/0.6 - 2. Same role as the
    # reference trie's length bound.
    r_min = max(3.0 * (threshold - 0.4) / 0.6 - 2.0, 0.0)

    if cand is None and _duckdb_ok(threshold):
        # scale path: quadratic candidate stream never leaves the task
        scored = _score_buckets_duckdb(keyed, threshold, r_min)
    else:
        if cand is None:
            s1 = keyed.select(
                F.col("dataset").alias("d1"), "variable",
                F.col("value").alias("v1"), "bk",
            )
            s2 = keyed.select(
                F.col("dataset").alias("d2"), "variable",
                F.col("value").alias("v2"), "bk",
            )
            # NO distinct: pairs share >1 gram rarely (~6%), and deduping
            # the candidate set is the biggest shuffle of the pipeline —
            # dedup the tiny thresholded output instead
            cand = (
                s1.join(s2, ["variable", "bk"])
                .where(F.col("d1") < F.col("d2"))
                .drop("bk")
            )
        if r_min > 0:
            llo = F.least(F.length("v1"), F.length("v2"))
            lhi = F.greatest(F.length("v1"), F.length("v2"))
            cand = cand.where(llo.cast("double") >= lhi * F.lit(r_min))
        # scoring runs on the join output partitions; the session pins
        # AQE's coalescing floor low so the tiny blocking-key shuffle
        # keeps cluster-width parallelism for this quadratic-output stage
        scored = (
            cand.withColumn("score", jw_score(F.col("v1"), F.col("v2"), threshold))
            .where(F.col("score") >= F.lit(threshold))
            .dropDuplicates(["d1", "d2", "variable", "v1", "v2"])
        )
    # the scored subtree feeds both argmax directions and (via bidi) two
    # resource fan-out joins — materialize once so the UDF scan runs once,
    # not up to four times (exchange reuse is unreliable under AQE, and a
    # lazy checkpoint shared by branches of a single job races its cache)
    scored = scored.localCheckpoint(eager=True)

    w_fwd = Window.partitionBy("d1", "d2", "variable", "v1").orderBy(F.desc("score"))
    w_bwd = Window.partitionBy("d1", "d2", "variable", "v2").orderBy(F.desc("score"))
    fwd = scored.withColumn("r", F.rank().over(w_fwd)).where(F.col("r") == 1).drop("r")
    bwd = scored.withColumn("r", F.rank().over(w_bwd)).where(F.col("r") == 1).drop("r")
    bidi = fwd.join(
        bwd.select("d1", "d2", "variable", "v1", "v2"),
        ["d1", "d2", "variable", "v1", "v2"],
        "left_semi",
    )

    if return_value_links:
        # matched value pairs, pre-resource-fan-out: the input to
        # value-level canonicalization (closure.canonical_from_value_links)
        return bidi.select("d1", "variable", "v1", "d2", "v2", "score")

    if star:
        # Scale path: hot values fan out to thousands of resources; the
        # pairwise cross product (`JaroWinklerMappingProcessor.java:100-104`)
        # is quadratic per matched value. Linking every resource to a
        # synthetic node per matched value pair yields IDENTICAL connected
        # components with linear edge count (SURVEY.md §2.1: "closure never
        # needs materializing as O(n²) pairs"). Strip the synthetic nodes
        # with closure.strip_synthetic after CC.
        pairnode = F.concat_ws(
            "\x1f", F.lit(SYNTHETIC_PREFIX.rstrip(":")), "variable", "d1", "v1", "d2", "v2"
        )
        bidi_n = bidi.withColumn("pn", pairnode)
        r1 = idx.select(
            F.col("dataset").alias("d1"), "variable", F.col("value").alias("v1"),
            F.col("resource").alias("src"),
        )
        r2 = idx.select(
            F.col("dataset").alias("d2"), "variable", F.col("value").alias("v2"),
            F.col("resource").alias("src"),
        )
        e1 = bidi_n.join(r1, ["d1", "variable", "v1"]).select(
            "src", F.col("pn").alias("dst")
        )
        e2 = bidi_n.join(r2, ["d2", "variable", "v2"]).select(
            "src", F.col("pn").alias("dst")
        )
        return e1.unionByName(e2).distinct()

    r1 = idx.select(
        F.col("dataset").alias("d1"),
        "variable",
        F.col("value").alias("v1"),
        F.col("resource").alias("src"),
    )
    r2 = idx.select(
        F.col("dataset").alias("d2"),
        "variable",
        F.col("value").alias("v2"),
        F.col("resource").alias("dst"),
    )
    edges = (
        bidi.join(r1, ["d1", "variable", "v1"])
        .join(r2, ["d2", "variable", "v2"])
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return edges
