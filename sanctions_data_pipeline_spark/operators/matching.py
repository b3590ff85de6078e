"""Entity-matching operators (reference main.py:421-522, 809-830,
950-1028), re-expressed as distributed DataFrame transformations.

The reference does dict lookups and sequential row scans on the driver;
here the mapping is a broadcast dimension and the variant probe is an
exploded equi-join — shuffle-free on the probe side at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from sanctions_data_pipeline_spark.functions.names import variant_keys


def build_variant_mapping(entries: DataFrame, name_col: str,
                          id_col: str, value_col: str) -> DataFrame:
    """Reference build_pdf_rem2_mapping (main.py:421-522): each entry
    contributes its 3 normalized name-variant keys; on key collision the
    FIRST entry wins (``if key not in mapping``), modeled by min(id)
    per key. Returns (match_key, <value_col>)."""
    exploded = entries.select(
        F.col(id_col).alias("__mid"),
        F.col(value_col).alias("__mval"),
        F.explode(variant_keys(F.col(name_col))).alias("match_key"),
    ).filter(F.col("match_key") != "")
    w = W.partitionBy("match_key").orderBy("__mid")
    return (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("match_key", F.col("__mval").alias(value_col))
    )


def variant_match(candidates: DataFrame, key_cols: list[str],
                  name_col: str, priority_col: str,
                  mapping: DataFrame, value_col: str) -> DataFrame:
    """Reference candidate loop (main.py:809-830): for each entity, try
    candidate names in priority order, and for each name its 3 variant
    keys in order; the first key present in the mapping wins.

    Distributed form: posexplode the variant keys (priority =
    priority_col * 3 + variant position), broadcast-join the mapping,
    keep the minimum-priority hit per entity."""
    exploded = candidates.select(
        *key_cols,
        F.col(priority_col).alias("__prio"),
        F.posexplode(variant_keys(F.col(name_col))).alias("__vpos", "match_key"),
    )
    hits = exploded.join(F.broadcast(mapping), "match_key")
    w = W.partitionBy(*key_cols).orderBy(
        F.col("__prio").asc(), F.col("__vpos").asc())
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, F.col(value_col))
    )


def _scan_chunk(vals: list[str], elig: list[bool], carry: str,
                nxt_after: str) -> list[str]:
    """Sequential agreeing-fill scan of ONE contiguous chunk.

    Faithful to the reference's in-place row loop (main.py:950-1028):
    an eligible row fills iff the running carry (last non-empty value
    seen, INCLUDING earlier overwrites in the same pass) equals the
    nearest non-empty ORIGINAL value to the right; a fill writes the
    carry back over the row's own value, so later rows see it.

    Returns per-row fill values ('' = not filled; only meaningful for
    eligible rows).
    """
    n = len(vals)
    nxt = [""] * n
    cur = nxt_after
    for i in range(n - 1, -1, -1):
        nxt[i] = cur
        if vals[i]:
            cur = vals[i]
    cells = [""] * n
    for i in range(n):
        if elig[i] and carry and nxt[i] and carry == nxt[i]:
            cells[i] = carry           # fill; carry value unchanged
        elif vals[i]:
            carry = vals[i]
    return cells


def _chunk_transition(vals: list[str], elig: list[bool],
                      nxt_after: str) -> tuple[str | None, str | None, str | None]:
    """Carry-transition function of a chunk, f(incoming carry) -> outgoing.

    Key algebra (fuzz-verified against the reference loop): a fill
    leaves the carry UNCHANGED (it requires carry == next and writes
    that same value), and a non-fill at a non-empty row sets the carry
    to a constant. So f is the identity on at most ONE special incoming
    value V (the next-value of the first non-empty row, while fills
    chain) and constant everywhere else:

        f(L) = out_v   if V is not None and L == V
               out_gen otherwise            (None means 'L unchanged')
    """
    n = len(vals)
    nxt = [""] * n
    cur = nxt_after
    for i in range(n - 1, -1, -1):
        nxt[i] = cur
        if vals[i]:
            cur = vals[i]

    def sim(carry0: str | None) -> str | None:
        carry, set_any = carry0, False
        for i in range(n):
            if elig[i] and carry and nxt[i] and carry == nxt[i]:
                pass                   # fill; carry unchanged
            elif vals[i]:
                carry, set_any = vals[i], True
        return carry if (set_any or carry0 is not None) else None

    v = None
    for i in range(n):
        if vals[i]:
            if elig[i] and nxt[i]:
                v = nxt[i]
            break
    return v, (sim(v) if v is not None else None), sim(None)


def _chunk_summary(vals: list[str], elig: list[bool]) -> tuple | None:
    """What the rest of the sequence needs to know about a chunk, or
    None when the chunk has no non-empty value (its carry transition
    is then the identity).

    The next value after the chunk matters for the carry at ONE row
    only: the last non-empty row (rows after it are empty, and rows
    before it see a value inside the chunk). So the summary is
    ``(first, last, last_eligible, v, out_v, out_gen)``: the first and
    last non-empty values, whether the last one may fill, and the
    :func:`_chunk_transition` of the rows before it."""
    filled = [i for i, x in enumerate(vals) if x]
    if not filled:
        return None
    k = filled[-1]
    return (vals[filled[0]], vals[k], bool(elig[k]),
            *_chunk_transition(vals[:k], elig[:k], vals[k]))


def _compose(summaries: dict[int, tuple | None]) -> dict[int, tuple[str, str]]:
    """Chunk id -> (incoming carry, nearest non-empty value after the
    chunk), from every chunk's :func:`_chunk_summary` in chunk order."""
    ids = sorted(summaries)
    nxt_after, cur = {}, ""
    for k in reversed(ids):
        nxt_after[k] = cur
        if summaries[k] is not None:
            cur = summaries[k][0]
    bounds, carry = {}, ""
    for k in ids:
        bounds[k] = (carry, nxt_after[k])
        if summaries[k] is None:
            continue
        _, last, last_elig, v, out_v, out_gen = summaries[k]
        mid = out_v if v is not None and carry == v else out_gen
        if mid is None:
            mid = carry
        fills = last_elig and mid and nxt_after[k] and mid == nxt_after[k]
        carry = mid if fills else last
    return bounds


def _apply_passes(vals: list[str], elig: list[bool], base: list[str],
                  bounds: list[tuple[str, str]]):
    """Run one agreeing-fill pass per (incoming carry, next value after
    the chunk) pair over a chunk. Each pass after the first re-scans
    the previous pass's output, where a row eligible before and still
    empty is eligible again (the reference's third pass). Returns the
    next pass's (values, eligibility, base); the base is the output."""
    for carry, nxt_after in bounds:
        cells = _scan_chunk(vals, elig, carry, nxt_after)
        base = [c if e else b for c, e, b in zip(cells, elig, base)]
        vals, elig = base, [e and not b for e, b in zip(elig, base)]
    return vals, elig, base


def _chunks(batches, order_col: str):
    """Each chunk of one partition's rows in scan order, with the
    boundaries composed so far and the next pass's inputs."""
    import pandas as pd

    frames = [f for f in batches if len(f)]
    if not frames:
        return
    for _, pdf in pd.concat(frames, ignore_index=True).groupby("__chunk"):
        pdf = pdf.sort_values(order_col)
        bounds = (list(zip(pdf["__carry"].iat[0], pdf["__nxt"].iat[0]))
                  if "__carry" in pdf else [])
        yield pdf, bounds, _apply_passes(
            list(pdf["__v"]), list(pdf["__e"].eq(True)),
            list(pdf["__base"]), bounds)


def agreeing_fill_scan(df: DataFrame, order_col: str, value: Column,
                       eligible: Column, base: Column, out_col: str,
                       third_pass: bool = False) -> DataFrame:
    """Distributed, exact implementation of the reference's sequential
    agreeing-neighbor fill loop (main.py:950-1028), as ONE lazy plan:
    building it starts no Spark job, and the whole scan runs inside the
    caller's action.

    ``value`` is the scanned string ('' = empty), ``eligible`` marks
    rows the fill loop may write (NULL = not eligible), ``base`` is the
    output for non-eligible rows. ``order_col`` must be numeric and
    unique. The plan:

    1. one range exchange cuts the rows into contiguous chunks of the
       ``order_col`` order, one per shuffle partition; every later step
       reads this one exchange, so the input lineage runs once;
    2. one Arrow pass per chunk emits a constant-size summary
       (:func:`_chunk_summary`);
    3. one single-partition step composes the summaries in chunk order
       into each chunk's incoming carry and next value
       (:func:`_compose` — exact, because a chunk's carry function is
       the identity on at most one value and constant otherwise, see
       :func:`_chunk_transition`);
    4. the per-chunk sequential scan (:func:`_scan_chunk`) runs over
       the chunk's rows broadcast-joined with its composed boundary.

    ``third_pass=True`` re-scans the output in the same chunks (the
    reference's third pass, main.py:995-1028): a row eligible and
    still empty after the first scan is eligible again, over the first
    scan's output values. Its summaries come from the first scan's
    kernel, and the final kernel applies both scans (see
    :func:`_apply_passes`).
    """
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    n_chunks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = (
        df.select("*", F.coalesce(value, F.lit("")).alias("__v"),
                  eligible.cast("boolean").alias("__e"),
                  F.coalesce(base, F.lit("")).alias("__base"))
        .repartitionByRange(n_chunks, order_col)
        .select("*", F.spark_partition_id().alias("__chunk"))
    )
    summary_schema = ("__chunk int, first string, last string, "
                      "last_elig boolean, v string, out_v string, "
                      "out_gen string, __carry array<string>, "
                      "__nxt array<string>")
    fields = ["first", "last", "last_elig", "v", "out_v", "out_gen"]

    def summarize(batches):
        for pdf, bounds, (vals, elig, _) in _chunks(batches, order_col):
            s = _chunk_summary(vals, elig) or (None,) * len(fields)
            yield pd.DataFrame([{
                "__chunk": int(pdf["__chunk"].iat[0]), **dict(zip(fields, s)),
                "__carry": [c for c, _ in bounds],
                "__nxt": [a for _, a in bounds],
            }])

    def compose(pdf):
        recs = pdf.to_dict("records")
        bounds = _compose({
            int(r["__chunk"]): None if r["first"] is None
            else tuple(r[f] for f in fields) for r in recs})
        return pd.DataFrame([{
            "__chunk": k, "__carry": [*r["__carry"], bounds[k][0]],
            "__nxt": [*r["__nxt"], bounds[k][1]],
        } for r in recs for k in [int(r["__chunk"])]])

    # Broadcasting the carries keeps the rows in their range partitions:
    # the kernels run on the one exchange, with no second shuffle.
    carries = None
    for _ in range(2 if third_pass else 1):
        src = rows if carries is None else F.broadcast(carries).join(rows, "__chunk")
        carries = (src.mapInPandas(summarize, summary_schema).groupBy()
                   .applyInPandas(compose, "__chunk int, __carry array<string>, "
                                           "__nxt array<string>"))

    out_fields = list(df.schema.fields) + [StructField(out_col, StringType())]
    keep = [f.name for f in df.schema.fields]

    def fill(batches):
        for pdf, _, (_, _, out) in _chunks(batches, order_col):
            yield pdf[keep].assign(**{out_col: out})

    return (F.broadcast(carries).join(rows, "__chunk")
            .mapInPandas(fill, StructType(out_fields)))


def neighbor_fill(df: DataFrame, order_col: str, name_col: str,
                  cand_col: str, out_col: str = "filled",
                  flag_col: str | None = None,
                  state_col: str | None = None,
                  third_pass: bool = False) -> DataFrame:
    """Reference duplicate-name passes (main.py:950-1028): rows whose
    name is unique keep their candidate; 'UNKNOWN' rows blank out;
    duplicate names take the nearest non-empty candidate BEFORE (as
    updated by earlier fills in the same pass — the reference loop
    writes back into ``rem2_candidates``) and AFTER (original values)
    in the global row order, filled only when the two agree.

    Returns a lazy DataFrame: building it starts no Spark job. The fill
    is the :func:`agreeing_fill_scan` plan — one range exchange into
    contiguous chunks, per-chunk summaries composed in one
    single-partition step, then one chunk kernel — so the input
    lineage runs once, inside the caller's action.

    ``third_pass=True`` additionally applies the reference's third pass
    (main.py:995-1028): duplicates still empty adopt the nearest
    non-empty OUTPUT cells (again sequential, earlier third-pass writes
    visible) when prev == next. It shares the chunks of pass 2: the
    pass-3 summaries come from the pass-2 kernel, and the final kernel
    applies pass 2 and then pass 3 to each chunk.

    ``flag_col`` marks rows whose final value differs from their own
    candidate (came from neighbor inference). ``state_col`` emits the
    reference's three-state cell verdict (main.py:994-1047):
    'filled' | 'empty_unique' (yellow: UNKNOWN or unique-and-empty) |
    'conflict' (red: duplicate left empty — pass-3 fills clear it).
    """
    n_occ = F.count(F.lit(1)).over(W.partitionBy(name_col))
    df2 = df.select("*", n_occ.alias("__n_occ"))
    dup = (F.col(name_col) != "UNKNOWN") & (F.col("__n_occ") > 1)
    base2 = (F.when(F.col(name_col) == "UNKNOWN", F.lit(""))
             .otherwise(F.coalesce(F.col(cand_col), F.lit(""))))
    out = agreeing_fill_scan(df2, order_col, F.col(cand_col), dup, base2,
                             out_col, third_pass=third_pass)
    cols = [F.col(c) for c in df.columns + [out_col]]
    if flag_col:
        inferred = ((F.col(out_col) != "")
                    & (F.col(out_col) != F.coalesce(F.col(cand_col), F.lit(""))))
        cols.append(F.when(inferred, 1).otherwise(0).cast("bigint").alias(flag_col))
    if state_col:
        cols.append(
            F.when(F.col(out_col) != "", F.lit("filled"))
            .when((F.col(name_col) == "UNKNOWN") | (F.col("__n_occ") == 1),
                  F.lit("empty_unique"))
            .otherwise(F.lit("conflict")).alias(state_col))
    return out.select(*cols)
