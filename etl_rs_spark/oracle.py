"""Pure-pandas replay oracle (FIXTURES.md §3) — the test ground truth.

Single-pass LWW reduction, intentionally naive and engine-independent:
sort every event by (ts, lsn), keep the last event per (conv_id,
turn_idx), drop keys whose winning event is a delete, project to the
table schema with evolved columns null-backfilled, and apply the same
dirty-payload coercions the engine's normalizer applies.
Engine final state must equal this exactly, compared sorted by
(conv_id, turn_idx) — the BASELINE.json per-row invariant ("per-turn
text equality under stable turn ordering").
"""

from __future__ import annotations

import json
from datetime import datetime

import pandas as pd

KEY = ["conv_id", "turn_idx"]
ORDER = ["ts", "lsn"]


def coerce_bool_series(s: pd.Series) -> pd.Series:
    """Flexible boolean coercion, reference semantics
    (/root/reference/src/types.rs:243-253): case-insensitive
    true/1/yes/y and false/0/no/n; anything else -> null."""
    low = s.astype("string").str.strip().str.lower()
    out = pd.Series(pd.NA, index=s.index, dtype="boolean")
    out[low.isin(["true", "1", "yes", "y"])] = True
    out[low.isin(["false", "0", "no", "n"])] = False
    return out


def _parse_date(v: str):
    for fmt in ("%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y"):
        try:
            return datetime.strptime(v, fmt).date()
        except ValueError:
            continue
    return None


def coerce_date_series(s: pd.Series) -> pd.Series:
    """Multi-format date parse cascade, reference semantics
    (/root/reference/src/types.rs:262-273): %Y-%m-%d, then %d/%m/%Y,
    then %m/%d/%Y, on the value stripped of surrounding whitespace;
    failure -> null. Parsed per value with ``datetime.strptime``, so
    every four-digit year parses, as in the engine's ``date_flex``
    (pandas' nanosecond Timestamp would null dates outside
    1677-2262)."""
    s = s.astype("string").str.strip()
    return pd.Series(
        [_parse_date(v) if isinstance(v, str) else None for v in s],
        index=s.index,
        dtype=object,
    )


DEFAULT_COERCIONS = {"meta_active": coerce_bool_series, "meta_edited": coerce_date_series}


def replay(
    events: pd.DataFrame,
    base: pd.DataFrame | None = None,
    coercions: dict | None = None,
) -> pd.DataFrame:
    """Replay a typed change stream (optionally on top of a base table
    state) and return the final table, sorted by (conv_id, turn_idx)."""
    ev = events.copy()
    if base is not None:
        b = base.copy()
        b["op"] = "I"
        b["lsn"] = -1
        ev = pd.concat([b, ev], ignore_index=True)

    ev = ev.sort_values(ORDER, kind="mergesort")
    # keep the last whole ROW per key — groupby(...).last() would take
    # the last NON-NULL value per column, stitching fields from different
    # events of the same key (wrong under schema evolution + out-of-order).
    winners = ev.drop_duplicates(subset=KEY, keep="last")
    state = winners[winners["op"] != "D"].drop(columns=["op"])

    for col, fn in (coercions or DEFAULT_COERCIONS).items():
        if col in state.columns:
            state[col] = fn(state[col])

    return state.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def replay_envelope(
    envelope: pd.DataFrame,
    base: pd.DataFrame | None = None,
    coercions: dict | None = None,
) -> pd.DataFrame:
    """Replay the wire-format stream (payload as JSON string): LWW-pick
    the winning event per key first, then unpack the winners' payloads
    (union-of-keys, like the reference's schema inference at
    /root/reference/src/load/parquet.rs:125-138) — matching the engine,
    whose schema widens with keys that appear on WINNING events (a key
    carried only by losing events contributes no state and no column)."""
    env = envelope.copy()
    env = env.sort_values(ORDER, kind="mergesort").drop_duplicates(
        subset=KEY, keep="last"
    )
    payloads = [
        json.loads(p) if isinstance(p, str) and p else {}
        for p in env["payload"]
    ]
    pdf = pd.DataFrame(payloads, index=env.index)
    typed = pd.concat(
        [env[["lsn", "op", "conv_id", "turn_idx", "ts"]], pdf], axis=1
    )
    return replay(typed, base=base, coercions=coercions)
