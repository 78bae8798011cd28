"""Dataset metadata ("token"): definition, validation, version inherit.

A dataset token is ``{dimensions: {name: length}, chunk-dimensions:
{name: chunk length}, variables: {name: {type, shape, fill-value,
[attributes]}}}`` plus the system keys ``version-id`` / ``parent``
stamped at version creation.  Validation and frozen-field rules mirror
/root/reference/src/io/mandoline/dataset.clj:9-122 and the JSON
round-trip allows bare ``NaN`` (utils.clj:106-122).
"""

from __future__ import annotations

import json
import math
import time
from typing import Any, Mapping

from . import slice as sl
from .slab import DTYPES
from .slice import Slice

SUPPORTED_TYPES = frozenset(DTYPES)
NAN_FILL_TYPES = frozenset({"float", "double"})


def nan_eq(a: Any, b: Any) -> bool:
    """Equality where NaN == NaN (utils.clj nan= analogue)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
    return a == b


def validate_dataset_definition(metadata: Mapping[str, Any]) -> None:
    """Structural validation (dataset.clj:32-53).  Raises ValueError with
    the same failure categories as the reference."""
    for key in ("dimensions", "variables", "chunk-dimensions"):
        if key not in metadata:
            raise ValueError(
                "metadata must contain dimensions, variables, and "
                "chunk-dimensions."
            )
    if sorted(metadata["dimensions"]) != sorted(metadata["chunk-dimensions"]):
        raise ValueError(
            "there must be a 1:1 mapping from dimensions to chunk-dimensions."
        )
    variables = metadata["variables"]
    for name, attrs in variables.items():
        for field in ("shape", "type", "fill-value"):
            if not isinstance(attrs, Mapping) or attrs.get(field) is None:
                raise ValueError(
                    "each variable must contain shape, type and fill-value."
                )
    for name, attrs in variables.items():
        if attrs["type"] not in SUPPORTED_TYPES:
            raise ValueError(
                "one or more of the provided variable types are unsupported."
            )
    for name, attrs in variables.items():
        fill = attrs["fill-value"]
        if isinstance(fill, bool) or not isinstance(fill, (int, float)):
            raise ValueError(
                "one or more of the provided variable fill values are invalid."
            )
        if isinstance(fill, float) and math.isnan(fill):
            if attrs["type"] not in NAN_FILL_TYPES:
                raise ValueError(
                    "one or more of the provided variable fill values are "
                    "invalid."
                )
    dims = set(metadata["dimensions"])
    for name, attrs in variables.items():
        if not set(attrs["shape"]) <= dims:
            raise ValueError(
                "one or more of the provided variable shapes is not a "
                "provided dimension."
            )


def create(metadata: Mapping[str, Any]) -> dict:
    """First-version token, parent=None (dataset.clj:112-118)."""
    token = dict(metadata)
    token["parent"] = None
    return token


def inherit(child: Mapping[str, Any], parent: Mapping[str, Any]) -> dict:
    """Child version inherits chunk-dimensions and parent pointer;
    type/shape/fill are frozen for pre-existing variables; new variables
    are allowed (dataset.clj:88-110)."""
    child = dict(child)
    if not child.get("chunk-dimensions"):
        child["chunk-dimensions"] = dict(parent["chunk-dimensions"])
    child["parent"] = parent.get("version-id")
    pc = parent["chunk-dimensions"]
    if {k: child["chunk-dimensions"].get(k) for k in pc} != pc:
        raise ValueError("chunk-dimensions must match between versions.")
    for var, cattrs in child.get("variables", {}).items():
        pattrs = parent.get("variables", {}).get(var)
        if pattrs is None:
            continue
        if cattrs.get("type") != pattrs.get("type"):
            raise ValueError(
                "type for var cannot change between child and parent versions."
            )
        if list(cattrs.get("shape")) != list(pattrs.get("shape")):
            raise ValueError(
                "shape for var cannot change between child and parent "
                "versions."
            )
        if not nan_eq(cattrs.get("fill-value"), pattrs.get("fill-value")):
            raise ValueError(
                "fill for var cannot change between child and parent versions."
            )
    return child


_COUNTER = [0]


def new_version(metadata: Mapping[str, Any], *, after: int | None = None) -> dict:
    """Stamp a monotonically increasing epoch-millis version id
    (dataset.clj:120-122; collision-bumped so rapid commits in tests
    never share an id).  ``after`` floors the id past a committed
    parent's: the bump counter is per-process, so without it two
    PROCESSES committing within one epoch-millisecond (or under clock
    skew) could stamp a child id <= its parent's — version ids must be
    strictly increasing along the history (the tip is ``max(ids)`` and
    time travel orders by id), and a non-advancing id would wedge the
    parent-latch commit protocol (store.finish_version guard)."""
    token = dict(metadata)
    vid = int(time.time() * 1000)
    if vid <= _COUNTER[0]:
        vid = _COUNTER[0] + 1
    if after is not None and vid <= after:
        vid = after + 1
    _COUNTER[0] = vid
    token["version-id"] = vid
    return token


# -- variable accessors (variable.clj:16-74) --------------------------------


def get_type(token: Mapping[str, Any], var: str) -> str:
    return token["variables"][var]["type"]


def get_fill(token: Mapping[str, Any], var: str) -> Any:
    return token["variables"][var]["fill-value"]


def get_variable_dimensions(token: Mapping[str, Any], var: str) -> list[str]:
    shape = token["variables"][var].get("shape")
    if shape is None:
        raise ValueError(f"No shape detected for variable {var}")
    return list(shape)


def get_var_slice(token: Mapping[str, Any], var: str) -> Slice:
    """Full extent ``[0, dimlen)`` per dimension (variable.clj:41-47)."""
    dims = get_variable_dimensions(token, var)
    stop = tuple(token["dimensions"][d] for d in dims)
    return sl.mk_slice(tuple(0 for _ in dims), stop)


def get_chunk_grid_slice(token: Mapping[str, Any], var: str) -> Slice:
    """Extent with step = chunk length (variable.clj:49-56)."""
    dims = get_variable_dimensions(token, var)
    stop = tuple(token["dimensions"][d] for d in dims)
    step = tuple(token["chunk-dimensions"][d] for d in dims)
    return sl.mk_slice(tuple(0 for _ in dims), stop, step)


# -- JSON round-trip with bare NaN (utils.clj:106-122) -----------------------


def generate_metadata(obj: Any) -> str:
    """JSON-encode a token; float NaN appears as bare ``NaN`` (the
    reference's extension of JSON — ``json.dumps(allow_nan=True)``
    already emits it bare; a post-hoc regex would also strip quotes
    from LITERAL string values "NaN", corrupting attribute text into a
    float or a key into unparseable JSON)."""
    return json.dumps(obj, allow_nan=True)


def parse_metadata(text: str) -> Any:
    """Parse token JSON, accepting bare ``NaN``/``Infinity`` — each
    mapped to its own float, not all collapsed to NaN (an infinite
    fill-value must not silently round-trip as NaN)."""
    return json.loads(
        text,
        parse_constant=lambda s: {
            "NaN": float("nan"),
            "Infinity": float("inf"),
            "-Infinity": float("-inf"),
        }[s],
    )
