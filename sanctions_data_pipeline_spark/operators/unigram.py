"""Unigram-LM tokenizer segmentation (Kudo, ACL 2018) as pure Column
algebra.

The piece model is bounded driver state (tens of rows — same contract
as the top-V vocab collect in tx_perplexity), shipped into the plan as
a literal map piece -> -log(p). The Viterbi lattice over each word runs
entirely inside JVM higher-order functions: one ``aggregate`` builds
the dp/backpointer array left-to-right, a second walks the
backpointers to emit the best segmentation. No Python executes per
row, so the corpus pass is one map stage.

At a real vocab size (32k pieces) the literal map becomes a broadcast
join on (word, position-substring) instead — same lattice, the lookup
moves from expression space to a hash probe; the registry form keeps
the literal map because the trained model here is tiny by
construction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

from sanctions_data_pipeline_spark.functions.hof import let
from sanctions_data_pipeline_spark.plans.helpers import local_frame

_INF = 1.0e9  # cost of an out-of-vocab piece (never chosen if any path exists)

MAX_PIECE_LEN = 4


def _cost_map(model: dict[str, float]) -> Column:
    """Literal map piece -> -log(p)."""
    kv = []
    for piece, p in sorted(model.items()):
        kv.append(F.lit(piece))
        kv.append(F.lit(-math.log(p)))
    return F.create_map(*kv)


def viterbi_pieces(word: Column, model: dict[str, float]) -> Column:
    """array<string> of the min-cost segmentation of ``word`` into
    model pieces (lengths 1..MAX_PIECE_LEN), with the model shipped as
    a literal map expression (right for tiny trained models).

    Tie rule (replayed bit-identically by tests): candidate piece
    lengths are tried ascending and a longer piece replaces the
    incumbent only on STRICTLY smaller cost — equal-cost lattices
    resolve to the shortest piece ending at each position.
    """
    return _viterbi_lattice(word, _cost_map(model))


def viterbi_pieces_map(word: Column, cost_map: Column) -> Column:
    """Same lattice, but the piece -> cost lookup probes a per-row MAP
    COLUMN instead of a literal expression — the 32k-piece scale form
    (see :func:`segment_words`): the map column carries only the
    pieces that actually occur in ``word``, built by a broadcast
    position-substring join, so a real vocab never inflates the plan.
    """
    return _viterbi_lattice(word, cost_map)


def _viterbi_lattice(word: Column, m: Column) -> Column:
    n = F.length(word)

    # dp pass: acc[i+1] = struct(cost, bp) for prefix length i
    def step(acc, i):
        best = None
        for ln in range(1, MAX_PIECE_LEN + 1):
            piece = F.substring(word, (i - ln + 1).cast("int"), ln)
            # element_at on a missing map key (or a NULL map, for words
            # with no in-vocab substring) is NULL -> out-of-vocab
            c = (F.when(i - ln >= 0,
                        F.element_at(acc, (i - ln + 1).cast("int"))["cost"]
                        + F.coalesce(F.element_at(m, piece), F.lit(_INF)))
                 .otherwise(F.lit(2.0 * _INF)))
            cand = F.struct(c.alias("cost"), (i - ln).alias("bp"))
            best = cand if best is None else (
                F.when(cand["cost"] < best["cost"], cand).otherwise(best))
        return F.concat(acc, F.array(best))

    dp_expr = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.struct(F.lit(0.0).alias("cost"),
                         F.lit(-1).alias("bp"))),
        step)

    # backtrace pass: walk bp from position n down to 0, prepending the
    # piece spelled by each hop; at most n hops, extra iterations no-op.
    # The dp table MUST be let-bound (functions/hof.py): the lambda body
    # below evaluates once per hop, and an inlined dp aggregate would be
    # recomputed at every hop — an O(n) blowup of the whole lattice
    # (measured ~2x on the EM loop at sf0.1).
    def walk(dp):
        def back(st, _):
            pos = st["pos"]
            bp = F.element_at(dp, (pos + 1).cast("int"))["bp"]
            piece = F.substring(word, (bp + 1).cast("int"),
                                (pos - bp).cast("int"))
            return (F.when(pos > 0,
                           F.struct(bp.alias("pos"),
                                    F.concat(F.array(piece),
                                             st["pieces"]).alias("pieces")))
                    .otherwise(st))

        return F.aggregate(
            F.sequence(F.lit(1), n),
            F.struct(n.cast("long").alias("pos"),
                     F.array().cast("array<string>").alias("pieces")),
            back)["pieces"]

    return let(dp_expr, walk)


LITERAL_MAP_MAX = 256


def substrings_up_to_max(word: Column) -> Column:
    """array<string> of ALL substrings of ``word`` with lengths
    1..MAX_PIECE_LEN (with duplicates, in position-major order) — the
    candidate-piece generator shared by the unigram seed counting and
    the broadcast-join segmentation path. The inner lambda captures the
    loop length via a factory ((lambda L: ...)(ln)): a defaulted 2-arg
    lambda would be (element, index) to the HOF layer and shadow the
    length with the index."""
    n = F.length(word)
    subs = []
    for ln in range(1, MAX_PIECE_LEN + 1):
        subs.append(F.when(n >= ln, F.transform(
            F.sequence(F.lit(1), n - ln + 1),
            (lambda L: lambda i: F.substring(word, i.cast("int"), L))(ln)))
            .otherwise(F.array().cast("array<string>")))
    return F.concat(*subs)


def segment_words(words_df, word_col: str, model: dict[str, float],
                  out_col: str = "piece",
                  literal_map_max: int = LITERAL_MAP_MAX):
    """Segment every word of ``words_df[word_col]`` with the model and
    EXPLODE the pieces into ``out_col`` — choosing the physical lookup
    strategy by model size (the documented scale switch):

    - ``len(model) <= literal_map_max``: the literal-map expression
      (:func:`viterbi_pieces`) — zero joins, right for the tiny trained
      models the registry produces.
    - larger: a BROADCAST position-substring join — every <=
      MAX_PIECE_LEN substring of each word probes the broadcast
      (piece, cost) table once, the per-word hits fold into a map
      column, and the identical lattice (:func:`viterbi_pieces_map`)
      runs over it. A 32k-piece vocab ships as ~32k broadcast rows
      instead of a 64k-literal expression tree.

    Both paths produce identical segmentations (pinned by
    tests/test_training_ext3.py's equality test, which forces the join
    path with ``literal_map_max=0``).
    """
    seg = segmented_words(words_df, word_col, model,
                          literal_map_max=literal_map_max)
    return seg.select(*[F.col(c) for c in words_df.columns],
                      F.explode("__pieces").alias(out_col))


def segmented_words(words_df, word_col: str, model: dict[str, float],
                    literal_map_max: int = LITERAL_MAP_MAX):
    """:func:`segment_words` before the explode: the input frame plus a
    ``__pieces`` array<string> column (the ordered segmentation)."""
    if len(model) <= literal_map_max:
        return words_df.select(
            "*", viterbi_pieces(F.col(word_col), model).alias("__pieces"))

    spark = words_df.sparkSession
    model_df = local_frame(
        [(p, -math.log(v)) for p, v in sorted(model.items())],
        "piece string, cost double")
    w = F.col(word_col)
    # all distinct substrings of length 1..MAX_PIECE_LEN per word;
    # .distinct() ALSO dedupes across duplicate word rows — without it
    # a words_df with repeated word values would feed duplicate
    # (piece, cost) entries into map_from_entries and crash with
    # DUPLICATED_MAP_KEY (the literal path tolerates duplicates, and
    # the two paths must stay interchangeable)
    cand = words_df.select(
        word_col,
        F.explode(F.array_distinct(substrings_up_to_max(w))).alias("piece"),
    ).distinct()
    hits = (cand.join(F.broadcast(model_df), "piece")
            .groupBy(word_col)
            .agg(F.map_from_entries(
                F.collect_list(F.struct("piece", "cost"))).alias("__pm")))
    return (words_df.join(hits, word_col, "left")
            .select(*[F.col(c) for c in words_df.columns],
                    viterbi_pieces_map(w, F.col("__pm")).alias("__pieces")))


def viterbi_pieces_py(word: str, model: dict[str, float]) -> list[str]:
    """Pure-python replay of :func:`viterbi_pieces` (same tie rule) —
    the test oracle, and (via :func:`_viterbi_costs_py`) the lattice
    the Arrow E-step runs per word."""
    return _viterbi_costs_py(
        word, {p: -math.log(v) for p, v in model.items()})


def _viterbi_costs_py(word: str, costs: dict[str, float]) -> list[str]:
    """:func:`viterbi_pieces_py` with the -log cost map precomputed
    (one dict per model, not per word). Bit-identical to the engine
    lattice: same IEEE double adds in the same order, same
    strictly-smaller tie rule, same _INF sentinel."""
    n = len(word)
    dp: list[tuple[float, int]] = [(0.0, -1)]
    for i in range(1, n + 1):
        best: tuple[float, int] | None = None
        for ln in range(1, MAX_PIECE_LEN + 1):
            if i - ln < 0:
                c, bp = 2.0 * _INF, i - ln
            else:
                piece = word[i - ln:i]
                c = dp[i - ln][0] + costs.get(piece, _INF)
                bp = i - ln
            if best is None or c < best[0]:
                best = (c, bp)
        dp.append(best)
    pieces: list[str] = []
    pos = n
    while pos > 0:
        bp = dp[pos][1]
        pieces.insert(0, word[bp:pos])
        pos = bp
    return pieces


def em_piece_counts(words_df, word_col: str, count_col: str,
                    model: dict[str, float]):
    """E-step piece-use counts — DataFrame(piece string, n bigint) with
    n = sum of ``count_col`` over every use of the piece in the
    min-cost segmentations of ``words_df[word_col]``.

    Optimization-guide §4: the unrolled HOF lattice is a very large
    expression tree that Catalyst re-analyzes and the JVM interpreter
    re-evaluates per EM round — at bench scale that fixed cost, not
    the data, dominated tok_unigram_lm. This path runs the PINNED
    python replay of the same lattice (:func:`_viterbi_costs_py`, the
    test oracle for the JVM form — segmentations are bit-identical by
    the replay contract) inside ``mapInPandas``, with the -log cost
    map built once per task and the counts partially aggregated per
    Arrow batch (§2.3: aggregate before the shuffle — each task emits
    at most |pieces| rows, never the word stream). The model is
    bounded driver state by the trainer's construction (seed cap +
    alphabet), so shipping it in the task closure is the same contract
    as the literal cost map / broadcast join it replaces.
    """
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql import functions as F

    costs = {p: -math.log(v) for p, v in sorted(model.items())}

    def seg_count(batches):
        from collections import Counter

        acc: Counter = Counter()
        for pdf in batches:
            _count_pieces(zip(pdf[word_col], pdf[count_col]), costs, acc)
        if acc:
            import pandas as _pd
            yield _pd.DataFrame({"piece": list(acc.keys()),
                                 "n": list(acc.values())})

    out = (words_df.select(word_col, count_col)
           .mapInPandas(seg_count, "piece string, n bigint"))
    return out.groupBy("piece").agg(F.sum("n").alias("n"))


def em_piece_counts_py(rows, model: dict[str, float]) -> dict[str, int]:
    """Driver-side replay of :func:`em_piece_counts` over fetched
    ``(word, count)`` rows — the small-inventory switch (a
    ``helpers.fetch_if_small`` gate). Identical counts by construction:
    same lattice (:func:`_viterbi_costs_py`), and the counts are
    integer adds, which are order-free — the Arrow path's per-batch
    partials sum to exactly this."""
    from collections import Counter

    costs = {p: -math.log(v) for p, v in sorted(model.items())}
    acc: Counter = Counter()
    _count_pieces(rows, costs, acc)
    return dict(acc)


def _count_pieces(rows, costs: dict[str, float], acc) -> None:
    """Add each ``(word, count)`` row's segmentation to ``acc``. A NULL
    word has no pieces, as the JVM explode of its NULL array had none."""
    for w, c in rows:
        if w is None:
            continue
        ci = int(c)
        for piece in _viterbi_costs_py(w, costs):
            acc[piece] += ci


def viterbi_char_margin_ok_py(words, model: dict[str, float],
                              tol: float = 1e-6):
    """Driver-side replay of :func:`viterbi_char_margin_ok` over a
    collected word list: same per-word left-to-right double folds,
    same skip rule for words with any missing cost, same AND reduce
    (AND is order-free, so batch partials vs one pass agree); returns
    None when no word was valid, mirroring bool_and over no rows."""
    costs = {p: -math.log(v) for p, v in sorted(model.items())}
    return _margin_ok(words, costs, tol, None)


def _margin_ok(words, costs: dict[str, float], tol: float,
               ok: bool | None) -> bool | None:
    """Fold the words into ``ok`` (None = no valid word yet). A NULL
    word is skipped: its JVM cost sums were NULL, which bool_and
    ignores."""
    for w in words:
        if w is None:
            continue
        vit = 0.0
        valid = True
        for piece in _viterbi_costs_py(w, costs):
            pc = costs.get(piece)
            if pc is None:
                valid = False
                break
            vit = vit + pc
        if valid:
            ch = 0.0
            for g in w:
                gc = costs.get(g)
                if gc is None:
                    valid = False
                    break
                ch = ch + gc
        if not valid:
            continue
        word_ok = vit <= ch + tol
        ok = word_ok if ok is None else (ok and word_ok)
    return ok


def viterbi_char_margin_ok(words_df, word_col: str,
                           model: dict[str, float], tol: float = 1e-6):
    """One-row DataFrame[ok boolean]: AND over all words of
    (viterbi segmentation cost <= single-char segmentation cost + tol)
    under ``model`` — the tok_unigram_lm optimality lane, on the same
    Arrow path as :func:`em_piece_counts`. Cost sums fold left-to-right
    exactly like the engine HOF aggregate they replace; a word whose
    piece or char misses the cost map is skipped, mirroring the NULL
    the JVM sum would produce (bool_and ignores NULLs)."""
    from pyspark.sql import functions as F

    costs = {p: -math.log(v) for p, v in sorted(model.items())}

    def check(batches):
        import pandas as _pd

        ok = None
        for pdf in batches:
            ok = _margin_ok(pdf[word_col], costs, tol, ok)
        if ok is not None:
            yield _pd.DataFrame({"ok": [bool(ok)]})

    part = (words_df.select(word_col)
            .mapInPandas(check, "ok boolean"))
    return part.agg(F.bool_and("ok").alias("ok"))
