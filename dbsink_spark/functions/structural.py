"""Structural per-message functions: flatten, string-JSON expansion,
HSTORE-safe stringification, NaN/Infinity scrubbing.

These reproduce the reference's per-message transform semantics
exactly (golden behavior fixed by reference tests
tests/test_dbsink.py:828-911 and :64-76; implementations referenced:
dbsink/tables.py:30-79 flatten/expand, tables.py:128-147
make_valid_string, dbsink/maps.py:13-19 payload_parse). They are pure
Python because the semantics are not expressible with Spark builtins:

* ``flatten`` emits BOTH a nested list and its indexed elements
  (``k``, ``k_0``, ``k_0_1``…) and auto-decodes stringified JSON *and*
  Python-literal strings — ``from_json``/``posexplode`` cannot do this.
* ``make_valid_string`` must match Python ``str()`` rendering
  (``True`` → ``"True"``, lists with spaces) — Spark ``cast(string)``
  renders these differently.

They run inside Arrow-batched ``mapInPandas`` workers (see
mappings/base.py), so per-row Python cost is paid once per message at
executor side — the same unit of work the reference does per message,
minus its per-message SQL round-trip.

Two invariants keep that per-message cost in C:

* A *bare word* — a string fully matching ``[A-Za-z_][A-Za-z0-9_.:/-]*``
  that is not one of ``true false null NaN Infinity True False None`` —
  decodes neither as JSON nor as a Python literal, so ``flatten`` and
  ``expand_stringified`` pass it through without trying either parse.
  Every other string still takes both parses.
* ``payload_parse`` maps NaN/±Infinity to null inside the C JSON
  encoder/decoder round-trip (``parse_constant``); its result equals
  ``json.loads(json.dumps(scrub_special_floats(payload)))``.
"""

from __future__ import annotations

import ast
import json
import math
import re

# Scrub patterns for HSTORE-safe strings. NOTE: the second pattern
# reproduces the reference's pattern verbatim (dbsink/tables.py:22-23)
# including its quirk: the character class absorbs the inner '[' so the
# pattern matches one of {\\, u, [, 0-9, A-F, a-f} followed by a
# literal ']'. Golden outputs depend on it.
_CTRL_CHARS = re.compile(r'[\x00-\x1f\\"]')
_UNICODE_JUNK = re.compile(r"[\\u[0-9A-Fa-f]]")

# Bare words: no JSON text or Python literal matches this pattern except
# the eight literals below (see the module docstring).
_BARE_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_.:/-]*").fullmatch
_BARE_LITERALS = frozenset(
    ("true", "false", "null", "NaN", "Infinity", "True", "False", "None")
)


def _is_bare_word(text: str) -> bool:
    return _BARE_WORD(text) is not None and text not in _BARE_LITERALS


def expand_stringified(text: str):
    """Decode a string holding JSON or a Python literal ("{'a': False}").

    Mirrors reference expand_json_objects (dbsink/tables.py:65-79):
    JSON first, then ``ast.literal_eval`` normalized through a JSON
    round-trip; raises ValueError when neither decodes. Bare words raise
    without trying either parse.
    """
    if _is_bare_word(text):
        raise ValueError("not a decodable JSON/Python-literal string")
    try:
        return json.loads(text)
    except Exception:
        pass
    try:
        return json.loads(json.dumps(ast.literal_eval(text)))
    except Exception:
        pass
    raise ValueError("not a decodable JSON/Python-literal string")


def flatten(obj, prefix: str = "", sep: str = "_") -> dict:
    """Recursively flatten nested dicts/lists into a flat dict.

    Semantics (reference dbsink/tables.py:30-62, goldens
    tests/test_dbsink.py:828-873):

    * dict keys join with ``sep``: ``{"a": {"b": 1}}`` → ``{"a_b": 1}``
    * a list is kept whole under its key AND each element is flattened
      under ``key_i``: ``{"k": [7]}`` → ``{"k": [7], "k_0": 7}``
    * strings that decode as JSON / Python literals are expanded and
      flattened in place; undecodable strings (bare words without a
      parse) pass through
    * scalars pass through
    """
    out: dict = {}

    def walk(node, key):
        if isinstance(node, dict):
            for k, v in node.items():
                walk(v, f"{key}{sep}{k}" if key else k)
        elif isinstance(node, list):
            out[key] = node
            for i, item in enumerate(node):
                walk(item, f"{key}{sep}{i}" if key else i)
        elif isinstance(node, str) and not _is_bare_word(node):
            try:
                decoded = expand_stringified(node)
            except ValueError:
                out[key] = node
            else:
                walk(decoded, key)
        else:
            out[key] = node

    walk(obj, prefix)
    return out


def make_valid_string(obj) -> str:
    """Render any value as an HSTORE-safe string.

    Strings get control/backslash/quote characters and the reference's
    junk-pattern stripped; non-strings render with Python ``str()``
    (``True`` → ``"True"``, list repr with spaces) — golden behavior,
    reference dbsink/tables.py:128-147.
    """
    if not isinstance(obj, str):
        return str(obj)
    cleaned = _UNICODE_JUNK.sub("", _CTRL_CHARS.sub("", obj))
    return cleaned.replace("\x80", "").replace("\x00", "")


def scrub_special_floats(obj):
    """Replace NaN/Infinity floats with None, recursively."""
    if isinstance(obj, float) and (math.isnan(obj) or math.isinf(obj)):
        return None
    if isinstance(obj, dict):
        return {k: scrub_special_floats(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [scrub_special_floats(v) for v in obj]
    return obj


# Decodes the NaN/Infinity/-Infinity tokens ``json.dumps`` emits as null.
_NULL_CONSTANTS = json.JSONDecoder(parse_constant=lambda _: None)


def payload_parse(payload):
    """Validate a message is JSON-representable, scrubbing NaN/Infinity
    to null (reference dbsink/maps.py:13-19; golden
    tests/test_dbsink.py:64-76)."""
    try:
        return _NULL_CONSTANTS.decode(json.dumps(payload))
    except Exception as e:
        raise ValueError(f"message is not valid JSON: {e!r}")
