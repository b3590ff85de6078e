"""Query registry: name -> (spark builder, optional DuckDB oracle SQL).

Every operator in SURVEY.md §2 registers here; ``__spark_entry__.py``
exposes the registry to the driver, which hash-compares oracle-checked
values order-insensitively after sorting columns by name. So both sides
alias every column identically, emit no raw timestamps (format them to
strings/dates), compute double aggregates decimal-exact and cast to
double at the edge (bit-identical across engines and partition orders),
and round similarity/ratio scores to the same fixed decimals.

Oracle rotation: each round the driver checks the first 50 entries of
``queries()`` / ``oracle_sql()`` and writes ``CORRECTNESS_r<N>.json`` to
the repo root. A record is green when ``hash_match``, ``rows_match`` and
``schema_match`` are true and ``err`` is null, or when ``err`` is
``"no_oracle"`` and the entry still has no oracle. Window order:

1. SQL-oracled entries with no green round;
2. ``REPROVE`` (plans changed since the entry's last green round);
3. other SQL-oracled entries, oldest last green round first;
4. rows-only entries.

Ties keep registration order, as does the whole window when no evidence
file reads. ``REGISTRY`` and ``headline_queries()`` never reorder.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

EVIDENCE_DIR = Path(__file__).resolve().parents[2]

# Entries whose plans (or Python worker code) changed since their last
# green round; drop a name once a CORRECTNESS round re-proves it.
REPROVE = (
    "s_neighbor_fill", "pipeline_e2e", "tok_unigram_lm",
    "dd_minhash_lsh_portable", "dd_simhash_portable", "q_incremental_mv",
)


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None -> rows-only check
    headline: bool = False  # include in bench.py


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(name=name, build=fn, oracle=oracle, headline=headline)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: REGISTRY[name].build for name in _window}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: REGISTRY[name].oracle for name in _window
            if REGISTRY[name].oracle}


def headline_queries() -> dict[str, QueryDef]:
    _ensure_loaded()
    return {name: qd for name, qd in REGISTRY.items() if qd.headline}


def _green(rec: dict, oracled: bool) -> bool:
    if rec.get("err") == "no_oracle":
        return not oracled
    return rec.get("err") is None and all(
        rec.get(k) is True for k in ("hash_match", "rows_match", "schema_match"))


def last_green(evidence_dir: Path = EVIDENCE_DIR) -> dict[str, int] | None:
    """Registered name -> last green round; None if no evidence file reads."""
    rounds = {}
    for path in Path(evidence_dir).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        try:
            rounds[int(m.group(1))] = json.loads(path.read_text()).items()
        except (AttributeError, OSError, ValueError):
            pass  # not a round file, unreadable, or not a JSON object
    if not rounds:
        return None
    return {name: rnd for rnd in sorted(rounds) for name, rec in rounds[rnd]
            if name in REGISTRY and isinstance(rec, dict)
            and _green(rec, bool(REGISTRY[name].oracle))}


def rotation(evidence_dir: Path = EVIDENCE_DIR) -> list[str]:
    """Registry names in driver-window order (see module docstring)."""
    green = last_green(evidence_dir)
    if green is None:
        return list(REGISTRY)
    oracled = [n for n, qd in REGISTRY.items() if qd.oracle]
    never = [n for n in oracled if n not in green]
    reprove = [n for n in REPROVE if n in green]
    stale = sorted((n for n in oracled if n in green and n not in reprove),
                   key=green.get)
    rows_only = [n for n, qd in REGISTRY.items()
                 if not qd.oracle and n not in reprove]
    return never + reprove + stale + rows_only


_window: list[str] = []

# Every module that registers queries, in import order (analytics2 reads
# REGISTRY['dp_pack'] at import time). A failed import must surface as a
# loud error naming the module (a silent `except ImportError: pass` here
# once shrank the registry by 56 queries without anyone noticing).
_PLAN_MODULES = (
    "relational", "relational_ext", "tpch_shapes", "tpch_shapes2",
    "sanctions", "training_data", "training_data2", "training_data3",
    "streaming", "multimodal", "temporal", "analytics", "analytics2",
    "analytics3",
)


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent, loud)."""
    global _window
    if _window:
        return
    errors: list[str] = []
    for mod in _PLAN_MODULES:
        try:
            importlib.import_module(f"sanctions_data_pipeline_spark.plans.{mod}")
        except Exception as exc:  # noqa: BLE001 - report, then fail loudly
            errors.append(f"{mod}: {type(exc).__name__}: {exc}")
    if errors:
        raise ImportError(
            "query registry is incomplete — plan module(s) failed to import "
            "(their queries would silently vanish from the registry): "
            + "; ".join(errors))
    _window = rotation()
