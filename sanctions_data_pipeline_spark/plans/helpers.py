"""Cross-engine determinism helpers, and the two driver round trips.

Double-typed aggregates computed naively (``SUM(double)``) depend on
partition/accumulation order, so a Spark result and a DuckDB oracle can
differ in the last bits and fail a value-hash compare. All money/metric
aggregations here go through decimal (exact, order-independent) and are
cast to double only at the output edge — bit-identical on both engines.
Driver round trips: :func:`fetch_if_small` down, :func:`local_frame` up.
Cache lifetime: :func:`persist` inside :func:`query_scope`.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# Canonical decimal shapes: values (prices, quantities) are < 10^12 with
# 2-4 meaningful decimals; rates (discount/tax) are < 1 with 4 decimals.
VAL = "decimal(18,4)"
RATE = "decimal(8,4)"


def dval(col) -> Column:
    return F.col(col).cast(VAL) if isinstance(col, str) else col.cast(VAL)


def drate(col) -> Column:
    return F.col(col).cast(RATE) if isinstance(col, str) else col.cast(RATE)


def _as_exact_double(dec_agg: Column) -> Column:
    """Exact decimal -> double, deterministically and identically across
    engines.

    A plain decimal->double cast is NOT portable: DuckDB computes
    int128_unscaled * 10^-scale in float math (1-ulp off once the
    unscaled value passes 2^53) while Spark's BigDecimal.doubleValue is
    correctly rounded. Route through round-to-4dp -> scaled bigint ->
    /10000.0: integer-exact on both sides, then one IEEE division both
    engines perform identically. Exact while |value| < 2^53/10^4 ≈ 9e11.
    """
    return (F.round(dec_agg, 4) * 10000).cast("bigint") / F.lit(10000.0)


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal sum, surfaced as a portable double."""
    return _as_exact_double(F.sum(col)).alias(alias)


def davg(col: Column, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    return (_as_exact_double(F.sum(col)) / F.count(F.lit(1))).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB fragment mirroring :func:`dsum`."""
    return f"CAST(ROUND(SUM({expr}), 4) * 10000 AS BIGINT) / 10000.0 AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB fragment mirroring :func:`davg`."""
    return f"CAST(ROUND(SUM({expr}), 4) * 10000 AS BIGINT) / 10000.0 / COUNT(*) AS {alias}"


# Common SQL operand shapes (oracle side of dval/drate compositions)
SQL_VAL = "CAST({} AS DECIMAL(18,4))"
SQL_RATE = "CAST({} AS DECIMAL(8,4))"
SQL_REVENUE = ("CAST(l_extendedprice AS DECIMAL(18,4))"
               " * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))")


def lcount(alias: str) -> Column:
    return F.count(F.lit(1)).alias(alias)


def ts_str(col, fmt: str = "yyyy-MM-dd") -> Column:
    """Format a timestamp for output (never emit raw timestamps: Spark
    session-TZ timestamps vs DuckDB naive timestamps hash differently)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)


def pround6(col: Column) -> Column:
    """Portable 6dp rounding for small-integer quotients: floor(x*1e6
    + 0.5) over the identical IEEE double. F.round's HALF_UP and
    DuckDB's float round disagree when the quotient lands exactly on a
    .5 ulp boundary (seen at sf0.1 in q_rank_functions); pair with
    :func:`sql_pround6` on the oracle side."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def sql_pround6(expr: str) -> str:
    """DuckDB fragment mirroring :func:`pround6`."""
    return f"CAST(FLOOR(({expr}) * 1000000 + 0.5) AS BIGINT) / 1000000.0"


def str_prefix_key(col) -> Column:
    """Order-preserving bigint from a string's first 7 UTF-8 bytes.

    Spark's default UTF8_BINARY collation compares strings by unsigned
    UTF-8 bytes; the big-endian value of the first 7 bytes (right-padded
    with 0x00) is monotone non-decreasing in that order, so it can
    serve as the range-shard key of :func:`sharded_global_window` for a
    string-ordered window. Strings equal in their first 7 bytes collide
    to the same key (same shard — local ordering still separates them).
    hex() of fixed-width bytes sorts like the bytes ('0'<'9'<'A'<'F'),
    rpad truncates-or-pads to exactly 14 hex digits (7 bytes < 2^56).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.rpad(F.hex(F.encode(c, "utf-8")), 14, "0"),
                  16, 10).cast("bigint")


def sharded_global_window(df, key, order, *, rn=None, sums=(),
                          count_total=None, sum_totals=(), n_shards=32,
                          nulls="first", bounds=None):
    """Global row_number / running sums over a TOTAL order without a
    single-partition sort — the scale-out replacement for
    ``Window.orderBy(...)`` with no partitionBy (which Spark plans as
    ONE task holding every row).

    Plan shape: fixed-width range shards on a numeric ``key`` that is
    monotone non-decreasing along ``order`` (for ``ORDER BY x DESC``
    pass ``key=-x``; for a leading string column pass
    :func:`str_prefix_key`), a per-shard window (n_shards-way parallel
    sort), and a broadcast carry-in of per-shard prefix aggregates —
    value-identical to the global window, same idiom as
    :func:`sharded_lateness_hours`. Driver state is two doubles
    (key min/max); the carry table is n_shards rows. Rows with equal
    keys always land in the same shard, so any tiebreak columns in
    ``order`` stay within one local sort.

    Args:
        key: numeric Column, monotone along the order's leading column.
        order: sequence of Columns defining the total order (the
            per-shard window ORDER BY — must be a total order for
            deterministic ranks, exactly as the global form required).
        rn: alias for the global 1-based row_number (bigint), or None.
        sums: iterable of ``(src_col_name, alias)`` — running INCLUSIVE
            sums along the order (bigint).
        count_total: alias to attach the global row count to every row.
        sum_totals: iterable of ``(src_col_name, alias)`` — global sums
            attached to every row (the q_top_share shape, replacing
            unbounded-frame windows).
        nulls: where a NULL key sorts under the leading order column —
            "first" for an ascending leading column (Spark/DuckDB
            default NULLS FIRST → shard 0), "last" for a descending
            one (NULLS LAST → the top shard). Must match ``order`` or
            NULL-key rows rank differently than the native window.

    Empty input degenerates to a constant shard id (no driver crash,
    empty result with the right schema).

    Cost note: the key-bounds pass is one extra eager job over the
    input lineage (driver state: two doubles). When CHAINING calls
    (q_rfm_segmentation's three NTILEs), persist the shared input
    first or each bounds job re-executes the upstream plan — and pass
    ``bounds``: one agg over the input can compute min/max for every
    chained key, collapsing N bounds jobs into one (round-12; the
    shard layout only affects parallelism, ranks are reconstructed
    globally, so any correct bounds give identical output).

    Args (cont.):
        bounds: optional precomputed ``(min, max)`` of
            ``key.cast("double")`` over ``df`` (None values allowed —
            the empty-input degenerate path). When omitted, one
            eager bounds job computes them here.
    """
    from pyspark.sql import Window as W

    assert nulls in ("first", "last")
    null_shard = 0 if nulls == "first" else n_shards - 1
    sums = list(sums)
    sum_totals = list(sum_totals)
    # d feeds the per-shard window pass AND the carry census (and,
    # without precomputed bounds, the eager bounds job too): persist so
    # the caller's upstream lineage computes ONCE — chained calls
    # (q_rfm's three ntiles) otherwise recompute each predecessor per
    # consumer. The bounds job doubles as the cache materializer. The
    # returned plan reads it lazily (see query_scope).
    d = persist(df.withColumn("__skey", key.cast("double")))
    if bounds is None:
        mn, mx = d.agg(F.min("__skey"), F.max("__skey")).first()
    else:
        mn, mx = bounds
    if mn is None:
        shard = F.lit(0).cast("bigint")
    else:
        width = (float(mx) - float(mn)) / n_shards or 1.0
        # coalesce must wrap the floor DIRECTLY: Spark's least/greatest
        # skip NULL operands (least(NULL, k) = k), so a NULL key would
        # silently land in the clamp bound instead of null_shard
        shard = F.greatest(
            F.least(
                F.coalesce(F.floor((F.col("__skey") - float(mn)) / width),
                           F.lit(null_shard)),
                F.lit(n_shards - 1)),
            F.lit(0)).cast("bigint")
    d = d.withColumn("__shard", shard)
    wloc = W.partitionBy("__shard").orderBy(*order)
    wcum = wloc.rowsBetween(W.unboundedPreceding, 0)
    loc = d.withColumn("__lrn", F.row_number().over(wloc))
    for c, a in sums:
        loc = loc.withColumn(a, F.sum(c).over(wcum))
    # carry table: <= n_shards rows; its own global windows are bounded
    # by construction (the groupBy above), so the single-partition sort
    # they plan to is over n_shards rows, not the corpus
    per = d.groupBy("__shard").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(c).alias(f"__ps_{a}") for c, a in sums + sum_totals],
    )
    wprev = W.orderBy("__shard").rowsBetween(W.unboundedPreceding, -1)
    wall = W.orderBy("__shard").rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing)
    carry_cols = [F.coalesce(F.sum("__cnt").over(wprev), F.lit(0))
                  .alias("__off_cnt")]
    for _, a in sums:
        carry_cols.append(F.coalesce(F.sum(f"__ps_{a}").over(wprev),
                                     F.lit(0)).alias(f"__off_{a}"))
    if count_total:
        carry_cols.append(F.sum("__cnt").over(wall).cast("bigint")
                          .alias(count_total))
    for _, a in sum_totals:
        carry_cols.append(F.sum(f"__ps_{a}").over(wall).cast("bigint")
                          .alias(a))
    carry = per.select("__shard", *carry_cols)
    out = loc.join(F.broadcast(carry), "__shard")
    if rn:
        out = out.withColumn(rn, (F.col("__lrn")
                                  + F.col("__off_cnt")).cast("bigint"))
    for _, a in sums:
        out = out.withColumn(a, (F.col(a) + F.col(f"__off_{a}"))
                             .cast("bigint"))
    drop = ["__skey", "__shard", "__lrn", "__off_cnt"]
    drop += [f"__off_{a}" for _, a in sums]
    return out.drop(*drop)


def sharded_ntile(df, key, order, k, alias, n_shards=32, nulls="first",
                  bounds=None):
    """Global NTILE(k) along a total order via :func:`sharded_global_window`
    — SQL NTILE semantics reconstructed from the global row_number and
    count (with n rows: the first n%k tiles get ceil(n/k) rows, the
    rest floor(n/k)), identical to Spark's and DuckDB's NTILE, without
    the single-partition sort the native fn plans to when unpartitioned.
    ``bounds`` threads precomputed key min/max through (one bounds job
    per frame when chaining — see sharded_global_window)."""
    out = sharded_global_window(df, key, order, rn="__grn",
                                count_total="__n", n_shards=n_shards,
                                nulls=nulls, bounds=bounds)
    q = F.floor(F.col("__n") / k)
    r = F.col("__n") % k
    first_zone = r * (q + 1)
    bucket = (F.when(F.col("__grn") <= first_zone,
                     F.ceil(F.col("__grn") / (q + 1)))
              .otherwise(r + F.ceil((F.col("__grn") - first_zone) / q)))
    return (out.withColumn(alias, bucket.cast("bigint"))
            .drop("__grn", "__n"))


def sharded_lateness_hours(ev):
    """Whole-hours lateness of each event vs the event_id-order
    high-water-mark, computed with the SHARDED prefix-max plan:
    events range-shard on event_id (order-preserving), the running max
    windows PER SHARD, and the cross-shard carry-in is a prefix max
    over the tiny per-shard-max table (broadcast back). Identical
    values to one global window; the big sort is n_shards-way
    parallel. Driver state is two longs (min/max event_id); an EMPTY
    events table short-circuits to an empty frame (the hardening
    contract — aggregating Nones would crash at plan-build time).
    Shared by q_lateness_profile and q_watermark_advice."""
    from pyspark.sql import Window as W, functions as F

    mn, mx = ev.agg(F.min("event_id"), F.max("event_id")).first()
    if mn is None:
        return ev.select(F.lit(0).cast("bigint").alias("late_hours")).limit(0)
    n_shards = 32
    width = max(1, (int(mx) - int(mn)) // n_shards + 1)
    # e feeds the per-shard window AND the carry census: persist the
    # 3-long rows so the events scan runs once (round-12 subtree lint)
    e = persist(ev.select(
        "event_id", F.unix_micros("ts").alias("us"),
        ((F.col("event_id") - F.lit(int(mn))) / F.lit(width))
        .cast("bigint").alias("shard")))
    local = e.withColumn(
        "local_hwm",
        F.max("us").over(
            W.partitionBy("shard").orderBy("event_id")
            .rowsBetween(W.unboundedPreceding, 0)))
    carry = (e.groupBy("shard").agg(F.max("us").alias("shard_max"))
             .select("shard",
                     F.max("shard_max").over(
                         W.orderBy("shard")
                         .rowsBetween(W.unboundedPreceding, -1))
                     .alias("carry_hwm")))
    return (local.join(F.broadcast(carry), "shard")
            .select(F.floor((F.greatest("local_hwm", "carry_hwm")
                             - F.col("us")) / F.lit(3600000000.0))
                    .cast("bigint").alias("late_hours")))


def reap_stale_scratch(spark) -> None:
    """Delete pid-scoped scratch left by DEAD processes.

    The io_* ops that materialize scratch (bucketed warehouse tables,
    /tmp/spark_graft_io dirs) scope it by pid so concurrent processes
    (pytest + bench + the driver) never clobber a layout another live
    process is still lazily reading. The flip side is accumulation:
    every run leaves its pid's dirs behind. Each scratch-writing op
    calls this reaper first — scratch whose owning pid no longer
    exists is unreachable by construction (its catalog entries died
    with the process), so removing it is always safe, and the total
    footprint stays bounded by the number of LIVE processes.
    """
    import os
    import re
    import shutil
    import tempfile

    def _alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        return True

    me = os.getpid()
    pat = re.compile(r"_(?:pid)?(\d+)$")

    def _reap_dir(root: str, prefix: str = "") -> None:
        try:
            entries = list(os.scandir(root))
        except OSError:
            return
        for d in entries:
            m = pat.search(d.name)
            if not (d.is_dir() and m and d.name.startswith(prefix)):
                continue
            pid = int(m.group(1))
            if pid != me and not _alive(pid):
                shutil.rmtree(d.path, ignore_errors=True)

    # warehouse tables: sweep ONLY this repo's scratch prefix (io_bkt_*).
    # The warehouse may be shared/pre-existing, and a legitimate table
    # named e.g. snapshot_2024 or events_v2 also matches the _<digits>
    # suffix pattern — never touch names we didn't create.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    _reap_dir(re.sub(r"^file:(//)?", "", wh), prefix="io_bkt_")
    # /tmp scratch (codecs_pid*/compact_pid*/events_dpo_pid*), one
    # level below the per-sf dirs — already scoped under our own
    # spark_graft_io root, so no name-prefix filter is needed
    io_root = os.path.join(tempfile.gettempdir(), "spark_graft_io")
    try:
        sf_dirs = list(os.scandir(io_root))
    except OSError:
        return
    for sf in sf_dirs:
        if sf.is_dir():
            _reap_dir(sf.path)


# Rows a size gate may bring to the driver (~100k short rows: edges,
# symbol arrays, words); larger inputs take the distributed path.
DRIVER_MAX_ROWS = 100_000


def fetch_if_small(df: DataFrame, n: int | None = None) -> list | None:
    """``df``'s rows if it has at most ``n`` (default DRIVER_MAX_ROWS,
    read at call time), else None: one ``limit(n + 1)`` fetch where a
    count then a collect ran the frame twice. A caller whose other path
    re-reads ``df`` persists it first."""
    n = DRIVER_MAX_ROWS if n is None else n
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def local_frame(rows, schema) -> DataFrame:
    """Driver rows as a DataFrame over an Arrow table typed by
    ``schema`` (DDL string or StructType): a ``LocalRelation`` that
    builds without a job, where a list is parallelized into an RDD that
    Python workers must scan. Rows pass the list path's type verifier
    first, since pyarrow would truncate a float given for an int."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, _make_type_verifier

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    table = pa.Table.from_struct_array(
        pa.array(rows, type=pa.struct(to_arrow_schema(schema))))
    return SparkSession.active().createDataFrame(table, schema)


# the entries the innermost open query_scope created; None outside one
_SCOPE: ContextVar[list | None] = ContextVar("query_scope", default=None)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``; inside a :func:`query_scope` it also records
    ``df`` for release if no entry held its plan yet."""
    owned = _SCOPE.get()
    if owned is not None and df.storageLevel == StorageLevel.NONE:
        owned.append(df)
    return df.persist()


@contextmanager
def query_scope():
    """Unpersist, on exit or error, the entries :func:`persist` created
    in the block. Builders return lazy frames that read their persisted
    intermediates when the sink runs, so run the build AND the sink in
    one scope; a long-lived session that does not leaks one entry per
    distinct plan. Spark keys entries by canonicalized plan: a repeat
    shares the entry, and one cached before the scope (another owner's)
    survives it, since evicting it made the next dd_cluster run
    recompute everything (6 s -> 39 s). Nested scopes release only
    their own entries."""
    owned: list[DataFrame] = []
    token = _SCOPE.set(owned)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in reversed(owned):
            df.unpersist()
