"""Composable index templates + component templates.

Reference: ``cluster/metadata/ComposableIndexTemplate.java``,
``ComponentTemplate.java``, ``MetadataIndexTemplateService.java`` —
an index template carries ``index_patterns`` (wildcards), a
``priority``, its own ``template`` settings, and ``composed_of``
component-template names; creating an index whose name matches a
pattern applies the HIGHEST-priority matching template, with settings
merged component-by-component in ``composed_of`` order and the
template's own settings winning last
(``MetadataIndexTemplateService.resolveSettings``).  Two templates
whose patterns overlap at the SAME priority are rejected at put time
(``findConflictingV2Templates``).

Spark-first mapping: settings keys are ``IndexConfig`` fields
(analyzer, search_analyzer, stopwords, n_segments, index_sort,
id_cols, routing_col, text_col, block_size, ...); ``resolve_config``
returns the merged ``IndexConfig`` and ``create_index`` builds
through the ordinary ``build_index`` path, so a template is pure
configuration — the build itself is unchanged and everything the
template sets is persisted in the index's plan.json as usual.

The registry is a single JSON file (atomic tmp+rename writes), like
the aliases registry — cheap driver-side metadata, exactly what the
reference keeps in cluster state.
"""

from __future__ import annotations

import fnmatch
import json
import os
import uuid
from dataclasses import fields as dc_fields
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from opensearch_spark.index.builder import IndexConfig, build_index

_CONFIG_KEYS = {f.name for f in dc_fields(IndexConfig)}


class TemplateRegistry:
    """JSON-persisted component + composable index templates."""

    def __init__(self, path: str):
        self.path = path
        if os.path.isfile(path):
            with open(path) as f:
                state = json.load(f)
        else:
            state = {"components": {}, "templates": {}}
        self._components: Dict[str, dict] = state["components"]
        self._templates: Dict[str, dict] = state["templates"]

    # ------------------------------------------------------------ put

    def put_component(self, name: str, settings: dict) -> None:
        """Register a component template (ComponentTemplate.java) —
        a named, reusable settings block."""
        self._check_settings(settings)
        self._components[name] = dict(settings)
        self._save()

    def put_template(
        self,
        name: str,
        index_patterns: Sequence[str],
        priority: int = 0,
        composed_of: Sequence[str] = (),
        settings: Optional[dict] = None,
    ) -> None:
        """Register a composable index template.  Rejects unknown
        component refs and any existing template sharing a priority
        with an overlapping pattern (the reference's
        findConflictingV2Templates check)."""
        self._check_settings(settings or {})
        missing = [c for c in composed_of if c not in self._components]
        if missing:
            raise ValueError(f"unknown component templates: {missing}")
        for other_name, other in self._templates.items():
            if other_name == name or other["priority"] != priority:
                continue
            overlap = [
                (p, q)
                for p in index_patterns
                for q in other["index_patterns"]
                if _patterns_overlap(p, q)
            ]
            if overlap:
                raise ValueError(
                    f"template {name!r} conflicts with {other_name!r} at "
                    f"priority {priority}: overlapping patterns {overlap[0]}"
                )
        self._templates[name] = {
            "index_patterns": list(index_patterns),
            "priority": int(priority),
            "composed_of": list(composed_of),
            "settings": dict(settings or {}),
        }
        self._save()

    def delete_template(self, name: str) -> None:
        self._templates.pop(name, None)
        self._save()

    # -------------------------------------------------------- resolve

    def match(self, index_name: str) -> Optional[str]:
        """Name of the highest-priority template whose pattern matches
        (ties broken by name for determinism; the put-time overlap
        check makes same-priority ties unreachable for one index)."""
        best = None
        for name, t in sorted(self._templates.items()):
            if any(fnmatch.fnmatchcase(index_name, p) for p in t["index_patterns"]):
                if best is None or t["priority"] > self._templates[best]["priority"]:
                    best = name
        return best

    def resolve_settings(self, index_name: str) -> dict:
        """Merged settings for ``index_name``: components in
        ``composed_of`` order, later components overriding earlier
        ones, the template's own settings last
        (MetadataIndexTemplateService.resolveSettings)."""
        name = self.match(index_name)
        if name is None:
            return {}
        t = self._templates[name]
        merged: dict = {}
        for comp in t["composed_of"]:
            merged.update(self._components[comp])
        merged.update(t["settings"])
        return merged

    def resolve_config(
        self, index_name: str, base: Optional[IndexConfig] = None
    ) -> IndexConfig:
        """``IndexConfig`` for ``index_name``: resolved template
        settings applied over ``base`` (or the defaults)."""
        merged = self.resolve_settings(index_name)
        cfg = base or IndexConfig()
        kwargs = {f.name: getattr(cfg, f.name) for f in dc_fields(IndexConfig)}
        for k, v in merged.items():
            kwargs[k] = tuple(v) if k == "id_cols" else v
        return IndexConfig(**kwargs)

    def create_index(
        self,
        spark: SparkSession,
        docs: DataFrame,
        index_root: str,
        index_name: str,
        base: Optional[IndexConfig] = None,
        **build_kwargs,
    ) -> dict:
        """Create ``<index_root>/<index_name>`` with the template-
        resolved config — the ``auto-create via matching template``
        path of the reference's index creation."""
        cfg = self.resolve_config(index_name, base)
        return build_index(
            spark, docs, os.path.join(index_root, index_name), cfg, **build_kwargs
        )

    # ---------------------------------------------------------- utils

    def _check_settings(self, settings: dict) -> None:
        unknown = sorted(set(settings) - _CONFIG_KEYS)
        if unknown:
            raise ValueError(
                f"unknown index settings {unknown}; valid: {sorted(_CONFIG_KEYS)}"
            )

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"components": self._components, "templates": self._templates}, f
            )
        os.replace(tmp, self.path)


def _patterns_overlap(a: str, b: str) -> bool:
    """Conservative wildcard-overlap test: either pattern's literal
    skeleton matches the other pattern (catches logs-* vs logs-prod-*
    and identical patterns; the reference uses the same
    match-each-against-the-other approach)."""
    return fnmatch.fnmatchcase(a.replace("*", ""), b) or fnmatch.fnmatchcase(
        b.replace("*", ""), a
    ) or fnmatch.fnmatchcase(a, b) or fnmatch.fnmatchcase(b, a)
