"""Cross-engine string→number cast twins.

Spark's ``try_cast`` and DuckDB's ``TRY_CAST`` disagree on the edges of
the string accept-set (empirically pinned in
``tests/test_try_cast_twin.py``):

* integral targets — DuckDB ROUNDS decimal strings (``'3.7'``→4) and
  parses scientific notation (``'4e2'``→400) where Spark yields NULL;
* flank trimming — Spark's ``UTF8String.trimAll`` strips EVERY char
  ``<= 0x20`` (control chars included) where DuckDB's cast only skips
  whitespace, so ``'\\x0142'`` casts to 42 on Spark but NULLs in a bare
  DuckDB TRY_CAST;
* double targets — Spark (Java ``parseDouble``) accepts ``'1.5f'``
  suffixes, ``'Infinity'``/``'NaN'`` names and overflows to ±Infinity,
  where DuckDB rejects or NULLs.

One malformed record picking a different CASE branch per engine is the
exact divergence class the round-9 text-mode fuzz campaign surfaced in
q31/q109 and the curation mixture flag, so the twins live here once instead of being
re-derived per oracle.

The integral twin reproduces Spark ``try_cast`` EXACTLY: strip the
``[\\x01-\\x20]`` flanks (DuckDB VARCHARs cannot hold ``\\x00``), gate
on ``^[+-]?[0-9]+$``, then TRY_CAST (integer overflow NULLs identically
on both engines).

For doubles exact twinning is not practical (Java float-literal
suffixes, special names, overflow-to-Infinity), so ``try_double_guarded``
/ ``guarded_double_sql`` instead narrow BOTH engines to the same
conservative finite-decimal accept-set — ≤15-digit mantissa, ≤2-digit
exponent — which both parse with correctly-rounded strtod to the same
IEEE double. Anything outside degrades to NULL on both sides, the right
behavior for a 100 TB aggregate: a pathological record must not abort
or skew the job, let alone differently per engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Chars Spark's UTF8String.trimAll strips before numeric casts.
_FLANKS = r"^[\x01-\x20]+|[\x01-\x20]+$"
INT_REGEX = "^[+-]?[0-9]+$"
# Finite-decimal accept-set shared by both engines: magnitude is capped
# (~1e114 max) so neither engine can overflow to Infinity/NULL.
FINITE_NUM_REGEX = r"^[+-]?([0-9]{1,15}(\.[0-9]{0,15})?|\.[0-9]{1,15})([eE][+-]?[0-9]{1,2})?$"


def spark_try_int_sql(expr: str, sql_type: str = "BIGINT") -> str:
    """DuckDB oracle twin of Spark ``try_cast(<string expr> AS <integral>)``."""
    stripped = f"regexp_replace({expr}, '{_FLANKS}', '', 'g')"
    return f"(CASE WHEN {stripped} ~ '{INT_REGEX}' THEN TRY_CAST({stripped} AS {sql_type}) END)"


def try_double_guarded(col: Column) -> Column:
    """Spark side of the shared finite-decimal double accept-set."""
    stripped = F.regexp_replace(col, _FLANKS, "")
    return F.when(stripped.rlike(FINITE_NUM_REGEX), stripped.try_cast("double"))


def guarded_double_sql(expr: str) -> str:
    """DuckDB side of the shared finite-decimal double accept-set."""
    stripped = f"regexp_replace({expr}, '{_FLANKS}', '', 'g')"
    return f"(CASE WHEN {stripped} ~ '{FINITE_NUM_REGEX}' THEN TRY_CAST({stripped} AS DOUBLE) END)"
