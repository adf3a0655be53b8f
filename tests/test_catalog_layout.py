"""Catalog layout: every entry is defined in the module of its family,
chosen by the entry's name prefix, and catalog.py only merges those
modules. Needs no Spark session."""

from __future__ import annotations

import re
from pathlib import Path

from bioeco_portal_etl_spark import catalog

FAMILY_PREFIXES = {
    "catalog_tpch": ("q",),
    "catalog_rel": ("p", "f", "j", "a", "u", "r", "rel"),
    "catalog_geo": ("g",),
    "catalog_text": ("tx",),
    "catalog_dedup": ("td",),
    "catalog_ann": ("ts",),
    "catalog_graph": ("gr",),
    "catalog_media": ("mm",),
    "catalog_streaming": ("w",),
    "catalog_sketch": ("sk",),
    "catalog_dq": ("dq",),
    "catalog_analytics": ("x",),
}
MODULE_OF_PREFIX = {p: m for m, ps in FAMILY_PREFIXES.items() for p in ps}


def test_each_entry_is_defined_in_its_family_module():
    misplaced = {}
    for name, fn in catalog.queries().items():
        prefix = re.match(r"[a-z]+", name).group()
        assert prefix in MODULE_OF_PREFIX, f"{name}: prefix {prefix!r} has no family"
        want = f"bioeco_portal_etl_spark.{MODULE_OF_PREFIX[prefix]}"
        if fn.__module__ != want:
            misplaced[name] = (fn.__module__, want)
    assert not misplaced, f"entries outside their family module: {misplaced}"


def test_no_other_catalog_modules():
    pkg = Path(catalog.__file__).parent
    found = {p.stem for p in pkg.glob("catalog*.py")}
    assert found == {"catalog", *FAMILY_PREFIXES}
