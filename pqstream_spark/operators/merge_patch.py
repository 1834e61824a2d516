"""P2 — RFC-7386 merge patch for UPDATE diffs.

Reference: `generatePatch(a, b)` (`/root/reference/patch.go:11-40`),
invoked as `generatePatch(payload, previous)` (`server.go:236`) — i.e.
the patch transforms NEW→OLD, so **`changes` carries the OLD values of
exactly the fields that changed** (SURVEY.md §1.4; confirmed by
README.md:45,57).

Two patch shapes:

1. `merge_patch_map(payload, previous)` — flat `map<string,string>`
   rows via JVM-side higher-order functions (map_filter / map_concat),
   zero Python in the hot path. This covers the `row_to_json` common
   case (relational rows are one level deep).

2. `merge_patch_text(a_json, b_json)` — full recursive RFC-7386 over
   arbitrary nested JSON text, one row at a time. A wire sink calls it
   while it renders each row on the driver
   (`streaming/sinks.event_to_json_line`), the one place the reference
   pays for it too (server.go:236). `merge_patch_json` wraps the same
   function as an Arrow-batched pandas UDF for plans that want the
   patch as a column.

RFC-7386 semantics (patch transforming a→b):
- key in b with value differing from a[key]    → patch[key] = b[key]
- key in a but absent from b                   → patch[key] = null
- key equal in both                            → absent from patch
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def merge_patch_map(a: Column, b: Column) -> Column:
    """RFC-7386 patch a→b for flat map<string,string> columns.

    Null-semantics parity with patch.go:26-31: either side NULL/empty
    degrades gracefully (nil payloads → empty patch `{}` when both are
    empty; patch equals b's entries when a is empty).
    """
    a_ = F.coalesce(a, F.create_map())
    b_ = F.coalesce(b, F.create_map())
    # keys whose value in b differs from a (covers keys missing in a:
    # a[k] is NULL there, so the null-safe compare says "differs" for
    # non-null b[k])
    changed = F.map_filter(b_, lambda k, v: ~F.element_at(a_, k).eqNullSafe(v))
    # keys present in a but absent from b → null delete-markers
    removed_keys = F.filter(F.map_keys(a_), lambda k: ~F.map_contains_key(b_, k))
    removed = F.map_from_arrays(
        removed_keys,
        F.transform(removed_keys, lambda _: F.lit(None).cast("string")),
    )
    return F.map_concat(changed, removed)


def _merge_patch_obj(a, b):
    """Recursive RFC-7386 patch dict transforming a into b."""
    if not isinstance(a, dict) or not isinstance(b, dict):
        # non-object target: the patch IS the target (RFC 7386 §2)
        return b
    patch = {}
    for k, bv in b.items():
        if k not in a:
            patch[k] = bv
        else:
            av = a[k]
            if isinstance(av, dict) and isinstance(bv, dict):
                sub = _merge_patch_obj(av, bv)
                if sub:
                    patch[k] = sub
            elif av != bv:
                patch[k] = bv
    for k in a:
        if k not in b:
            patch[k] = None
    return patch


def merge_patch_text(a_s: str | None, b_s: str | None) -> str | None:
    """RFC-7386 patch a→b over JSON text, rendered with sorted keys.
    Both sides NULL → `{}`; either side unparseable → None."""
    if a_s is None and b_s is None:
        return "{}"
    try:
        a = json.loads(a_s) if a_s else {}
        b = json.loads(b_s) if b_s else {}
    except (ValueError, TypeError):
        # parity with server.go:237-240: patch errors are logged,
        # the event is still emitted without changes
        return None
    return json.dumps(_merge_patch_obj(a, b), separators=(",", ":"), sort_keys=True)


@F.pandas_udf(T.StringType())
def merge_patch_json(a_json: pd.Series, b_json: pd.Series) -> pd.Series:
    """merge_patch_text over Arrow batches (nested objects supported)."""
    return pd.Series([merge_patch_text(x, y) for x, y in zip(a_json, b_json)])


def with_changes(df: DataFrame, typed_wire: bool = False) -> DataFrame:
    """RawEvent → Event: attach `changes` for UPDATEs, drop `previous`.

    Mirrors handleEvent's Raw→public conversion (server.go:227-241).

    typed_wire=True keeps `previous_json` on the row, for sinks that
    must render the reference's wire format byte-for-byte (jsonpb
    prints typed JSON, cmd/pqs/main.go:66-76): the renderer computes an
    UPDATE's full recursive patch from payload_json/previous_json with
    merge_patch_text (nested objects, preserved number/null types) and
    falls back to the map `changes` when either side does not parse.
    The plan itself stays all-JVM either way — no Python worker."""
    changes = F.when(
        F.col("op") == "UPDATE",
        merge_patch_map(F.col("payload"), F.col("previous")),
    )
    out = df.withColumn("changes", changes)
    if typed_wire:
        return out.drop("previous")
    return out.drop("previous", "previous_json")
