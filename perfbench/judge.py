"""Independent pandas judge.

The final state is compared row for row with ``compute_oracle``'s
rule, under token-array equality. Point lookups and change-feed
increments are checked against ``Replay``, an incremental pandas replay
of the same epochs the engine was given. Nothing here calls the engine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from bitcoin_etl_spark.changelog.generator import TOKEN_VOCAB_SIZE

PAYLOAD = ("tokens", "n_tok", "source", "source_meta")


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA


def _tok(v):
    return None if _null(v) else tuple(int(x) for x in v)


def _norm(v):
    if _null(v):
        return None
    return int(v) if isinstance(v, (int, np.integer)) else v


def image(row) -> tuple:
    """Comparable payload image of one row (a dict, Row or Series)."""
    get = row.get if hasattr(row, "get") else (lambda k: row[k])
    return (_tok(get("tokens")), _norm(get("n_tok")), _norm(get("source")),
            _norm(get("source_meta")) if "source_meta" in row else None)


def images(pdf: pd.DataFrame) -> dict:
    """doc_id -> payload image for a frame of final rows."""
    recs = pdf.to_dict("records")
    return {r["doc_id"]: image(r) for r in recs}


def diff_states(actual: dict, expected: dict) -> list[str]:
    """Row-for-row mismatches between two doc_id -> image maps."""
    out = []
    for k in sorted(set(actual) | set(expected)):
        a, e = actual.get(k), expected.get(k)
        if a != e:
            out.append(f"{k}: engine={a!r:.80} oracle={e!r:.80}")
    return out


def valid_mask(df: pd.DataFrame) -> np.ndarray:
    """``is_valid_event``'s rule, vectorized with Arrow list kernels: D
    events are valid; I/U events need tokens, ``n_tok == len(tokens)``
    and every token in [0, vocab). The tests check it against
    ``is_valid_event`` row for row."""
    toks = pa.array(df["tokens"], type=pa.list_(pa.int64()), from_pandas=True)
    lens = pc.fill_null(pc.list_value_length(toks), -1).to_numpy()
    flat = pc.list_flatten(toks).to_numpy()
    parents = pc.list_parent_indices(toks).to_numpy()
    out_of_vocab = (flat < 0) | (flat >= TOKEN_VOCAB_SIZE)
    bad = np.bincount(parents, weights=out_of_vocab, minlength=len(df)) > 0
    n_tok = pd.array(df["n_tok"], dtype="Int64")
    n_ok = (~n_tok.isna()) & (n_tok.fillna(-2).to_numpy() == lens)
    return (df["op"] == "D").to_numpy() | (toks.is_valid().to_numpy(zero_copy_only=False)
                                          & np.asarray(n_ok) & ~bad)


def oracle(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """``compute_oracle``'s final state with ``valid_mask`` as the
    validity rule (its row-by-row check takes seconds per 100k events):
    first delivery of each ``seq`` kept, invalid events dropped, the last
    event per key wins and a delete removes the key. The tests check it
    against ``compute_oracle``."""
    df = pd.concat(frames, ignore_index=True).drop_duplicates("seq", keep="first")
    df = df[valid_mask(df)]
    df = df.sort_values("seq").drop_duplicates("doc_id", keep="last")
    df = df[df["op"] != "D"]
    cols = [c for c in ("doc_id", "tokens", "n_tok", "source", "source_meta")
            if c in df.columns]
    return df[cols].sort_values("doc_id").reset_index(drop=True)


class Replay:
    """Incremental last-event-wins replay of change-log frames.

    ``state`` maps doc_id -> (rev, image) for keys whose last valid
    event is an insert or update. ``pending`` remembers, per key touched
    since the last feed check, whether it was alive before its first
    touch — enough to derive the net INSERT / UPDATE_AFTER / DELETE of a
    change-feed increment."""

    def __init__(self):
        self.state: dict[str, tuple[int, tuple]] = {}
        self.pending: dict[str, bool] = {}

    def apply(self, frame: pd.DataFrame) -> None:
        f = frame.drop_duplicates("seq")
        f = f[valid_mask(f)].sort_values("seq")
        f = f.drop_duplicates("doc_id", keep="last")
        has_meta = "source_meta" in f.columns
        for r in f.to_dict("records"):
            k = r["doc_id"]
            self.pending.setdefault(k, k in self.state)
            if r["op"] == "D":
                self.state.pop(k, None)
            else:
                if not has_meta:
                    r["source_meta"] = None
                self.state[k] = (int(r["seq"]), image(r))

    def live_images(self) -> dict:
        return {k: v[1] for k, v in self.state.items()}

    def expected_feed(self) -> dict:
        """doc_id -> (change_type, rev, image) since the last call."""
        out = {}
        for k, was in self.pending.items():
            now = self.state.get(k)
            if now is not None:
                out[k] = ("UPDATE_AFTER" if was else "INSERT", now[0], now[1])
            elif was:
                out[k] = ("DELETE", None, None)
        self.pending = {}
        return out


def check_feed(pdf: pd.DataFrame, expected: dict) -> list[str]:
    """Mismatches between a materialized feed increment and the replay's
    expectation (DELETE rows are compared by key and type only)."""
    got = {}
    for r in pdf.to_dict("records"):
        ct = r["_change_type"]
        if ct == "DELETE":
            got[r["doc_id"]] = ("DELETE", None, None)
        else:
            got[r["doc_id"]] = (ct, int(r["_rev"]), image(r))
    return diff_states(got, expected)


def check_lookup(rows: list, key: str, expected: tuple | None) -> str | None:
    """One point-lookup answer against the expected image (None = the
    key must be absent)."""
    if expected is None:
        return None if not rows else f"{key}: expected absent, got {len(rows)}"
    if len(rows) != 1:
        return f"{key}: expected one row, got {len(rows)}"
    got = image(rows[0].asDict())
    return None if got == expected else f"{key}: {got!r:.80} != {expected!r:.80}"
