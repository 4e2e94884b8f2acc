"""Two-phase design validation: syntax then semantic rules.

Reference parity: ``python/etl/design/load.py:41-280`` — JSON-schema pass
then semantic rules, e.g. a VIEW may only carry column names (:161-179),
upstream TABLEs may not have depends_on (:208-211), surrogate_key must equal
the identity column (:116-132), split_by must be not_null int/long/date/
timestamp (:225-240).
"""

from __future__ import annotations

from typing import Any, Dict, List

from ..errors import TableDesignSemanticError, TableDesignSyntaxError
from . import GENERIC_TYPES, TableDesign

_CONSTRAINT_TYPES = {"primary_key", "natural_key", "surrogate_key", "unique"}
_SPLIT_BY_TYPES = {"int", "long", "date", "timestamp"}


def validate_design_syntax(d: Dict[str, Any]) -> None:
    """Structural checks (stand-in for the JSON-schema pass)."""
    for key in ("name", "source_name", "columns"):
        if key not in d:
            raise TableDesignSyntaxError(f"table design is missing required key {key!r}")
    if not isinstance(d["columns"], list) or not d["columns"]:
        raise TableDesignSyntaxError("columns must be a non-empty list")
    for col in d["columns"]:
        if not isinstance(col, dict) or "name" not in col:
            raise TableDesignSyntaxError(f"bad column entry: {col!r}")
        ctype = col.get("type", "string")
        if ctype not in GENERIC_TYPES:
            raise TableDesignSyntaxError(
                f"column {col['name']!r} has unknown generic type {ctype!r}"
            )
    for c in d.get("constraints", []):
        if not isinstance(c, dict) or len(c) != 1:
            raise TableDesignSyntaxError(f"constraints must be one-key dicts: {c!r}")
        (ctype,) = c.keys()
        if ctype not in _CONSTRAINT_TYPES:
            raise TableDesignSyntaxError(f"unknown constraint type {ctype!r}")


def validate_design_semantics(design: TableDesign) -> None:
    """Cross-field rules after the syntax pass."""
    names = [c.name for c in design.columns]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise TableDesignSemanticError(f"{design.name}: duplicate column(s) {dupes}")

    known = set(names)
    for ctype, cols in design.constraint_items():
        missing = [c for c in cols if c not in known]
        if missing:
            raise TableDesignSemanticError(
                f"{design.name}: constraint {ctype} references unknown column(s) {missing}"
            )
        if ctype == "surrogate_key":
            if len(cols) != 1:
                raise TableDesignSemanticError(
                    f"{design.name}: surrogate_key must be a single column"
                )
            ident = design.identity_column
            if ident is None or ident.name != cols[0]:
                raise TableDesignSemanticError(
                    f"{design.name}: surrogate_key must be the identity column"
                )

    if design.kind == "VIEW":
        for c in design.columns:
            if c.not_null or c.identity or c.references or c.expression:
                raise TableDesignSemanticError(
                    f"{design.name}: VIEW columns may only carry name/description"
                )
        if design.constraints:
            raise TableDesignSemanticError(f"{design.name}: VIEW may not have constraints")

    if design.kind == "TABLE" and design.depends_on:
        raise TableDesignSemanticError(
            f"{design.name}: upstream TABLE may not declare depends_on"
        )

    if design.kind == "EXTERNAL":
        # Spectrum-analog (reference config/dw.py:85): attached in place —
        # it has no upstream extract and no build query, so it may carry
        # neither; the location is the one thing it cannot live without
        if design.depends_on:
            raise TableDesignSemanticError(
                f"{design.name}: EXTERNAL relation may not declare depends_on"
            )
        es = design.extract_settings
        if es.condition or es.split_by or es.boundary_query:
            raise TableDesignSemanticError(
                f"{design.name}: EXTERNAL relation may not have extract_settings"
            )
        if not design.attributes.get("location"):
            raise TableDesignSemanticError(
                f"{design.name}: EXTERNAL relation requires attributes.location"
            )
        # files the engine did not write were never bucketed by it, so a
        # bucket spec on them would promise a layout they do not have
        if design.attributes.get("bucket_by"):
            raise TableDesignSemanticError(
                f"{design.name}: EXTERNAL relation may not declare bucket_by"
            )

    if design.kind in ("CTAS", "VIEW"):
        es = design.extract_settings
        if es.condition or es.split_by or es.boundary_query:
            raise TableDesignSemanticError(
                f"{design.name}: {design.kind} may not have extract_settings"
            )

    split_by = design.extract_settings.split_by
    if split_by:
        if len(split_by) != 1:
            raise TableDesignSemanticError(f"{design.name}: split_by must be one column")
        col = next((c for c in design.columns if c.name == split_by[0]), None)
        # split-by expressions (not matching a column) are allowed, like the
        # reference's split_by expression support
        if col is not None:
            if not col.not_null:
                raise TableDesignSemanticError(
                    f"{design.name}: split_by column {col.name!r} must be not_null"
                )
            if col.type not in _SPLIT_BY_TYPES:
                raise TableDesignSemanticError(
                    f"{design.name}: split_by column {col.name!r} must be one of "
                    f"{sorted(_SPLIT_BY_TYPES)}, got {col.type!r}"
                )


def load_design(d: Dict[str, Any]) -> TableDesign:
    """Parse + fully validate a design dict."""
    validate_design_syntax(d)
    design = TableDesign.from_dict(d)
    validate_design_semantics(design)
    return design


def validate_semantics_of_designs(designs: List[TableDesign]) -> None:
    for design in designs:
        validate_design_semantics(design)
