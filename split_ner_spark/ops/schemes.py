"""Q5 — tagging-scheme conversion (BO / BIO / BIOE / BIOES).

Reference semantics (/root/reference/splitner/dataset.py:394-470; scheme
knob splitner/additional_args.py:15-16), expressed over a WORD-level BIO
tag array (the reference applies the same rules at subword level after
label expansion):

- ``bo``: every mention tag collapses to ``B-<type>`` (dataset.py:412-414);
- ``bioe``: the LAST ``I-`` of each mention run becomes ``E-``
  (right-to-left scan, dataset.py:421-431);
- ``bioes``: additionally a ``B-`` not followed by I/E (a singleton
  mention) becomes ``S-`` (dataset.py:458-464, use_head_mask=False arm);
- ``bio``: identity.

Pure Catalyst array transforms with index lookups — per-sentence,
shuffle-free, WholeStageCodegen. ``convert_scheme`` is the pure-python
spec twin tests pin the expressions against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCHEMES = ("bio", "bo", "bioe", "bioes")


def convert_scheme(tags: list[str], scheme: str) -> list[str]:
    """Pure-python spec: word-level BIO tags → target scheme."""
    if scheme not in SCHEMES:
        raise ValueError(f"scheme must be one of {SCHEMES}, got {scheme!r}")
    if scheme == "bio":
        return list(tags)
    if scheme == "bo":
        return [t if t == "O" else "B-" + t[2:] for t in tags]
    out = list(tags)
    n = len(out)
    # bioe: last I of a run -> E (right-to-left, dataset.py:421-431)
    is_end = True
    for i in range(n - 1, -1, -1):
        if out[i].startswith("I-"):
            if is_end:
                out[i] = "E-" + out[i][2:]
                is_end = False
        else:
            is_end = True
    if scheme == "bioes":
        for i in range(n):
            if out[i].startswith("B-") and (
                i + 1 >= n or out[i + 1][0] not in ("I", "E")
            ):
                out[i] = "S-" + out[i][2:]
    return out


def _typ(t: Column) -> Column:
    return F.substring(t, 3, 2147483647)


def to_scheme_col(tags_col: str | Column, scheme: str) -> Column:
    """Catalyst twin of :func:`convert_scheme` over array<string> tags."""
    if scheme not in SCHEMES:
        raise ValueError(f"scheme must be one of {SCHEMES}, got {scheme!r}")
    tags = F.col(tags_col) if isinstance(tags_col, str) else tags_col
    if scheme == "bio":
        return tags
    if scheme == "bo":
        return F.transform(
            tags,
            lambda t: F.when(t == "O", t).otherwise(F.concat(F.lit("B-"), _typ(t))),
        )
    def nxt(i: Column) -> Column:
        # '' past the end (try_element_at: ANSI-safe out-of-bounds -> null)
        return F.coalesce(F.try_element_at(tags, i + 2), F.lit(""))

    # an I- is the last of its run iff the next tag is not I- (the
    # right-to-left scan marks exactly these — proven equal by tests)
    bioe = F.transform(
        tags,
        lambda t, i: F.when(
            t.startswith("I-") & ~nxt(i).startswith("I-"),
            F.concat(F.lit("E-"), _typ(t)),
        ).otherwise(t),
    )
    if scheme == "bioe":
        return bioe

    def nxt_b(i: Column) -> Column:
        return F.coalesce(F.try_element_at(tags, i + 2), F.lit(""))

    # bioes: B- whose successor is not I- (so the mention has length 1;
    # in the post-bioe array the successor of a length>=2 mention's B is
    # I or E, and E only arises from I) -> S-
    return F.transform(
        bioe,
        lambda t, i: F.when(
            t.startswith("B-") & ~nxt_b(i).startswith("I-"),
            F.concat(F.lit("S-"), _typ(t)),
        ).otherwise(t),
    )
