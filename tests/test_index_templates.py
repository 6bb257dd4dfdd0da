"""Composable index templates (ComposableIndexTemplate.java,
ComponentTemplate.java, MetadataIndexTemplateService.java):
pattern match, priority resolution, composed_of merge order,
same-priority overlap rejection, persistence, and an e2e build whose
template-applied analyzer provably changes search behavior."""

from __future__ import annotations

import pytest

from opensearch_spark.index.templates import TemplateRegistry


@pytest.fixture()
def reg(tmp_path):
    return TemplateRegistry(str(tmp_path / "templates.json"))


def test_match_priority_and_merge_order(reg):
    reg.put_component("base", {"n_segments": 4, "stopwords": "_english_"})
    reg.put_component("sorted", {"index_sort": ["ts"], "n_segments": 8})
    reg.put_template(
        "logs", ["logs-*"], priority=10, composed_of=["base", "sorted"],
        settings={"text_col": "message"},
    )
    reg.put_template("catchall", ["*"], priority=0, settings={"n_segments": 2})

    # highest priority wins over the catch-all
    assert reg.match("logs-prod") == "logs"
    assert reg.match("metrics-prod") == "catchall"

    # composed_of merge order: later component overrides earlier,
    # template's own settings override both
    s = reg.resolve_settings("logs-prod")
    assert s["n_segments"] == 8            # "sorted" over "base"
    assert s["stopwords"] == "_english_"   # from "base", untouched
    assert s["index_sort"] == ["ts"]
    assert s["text_col"] == "message"      # template's own setting

    cfg = reg.resolve_config("logs-prod")
    assert cfg.n_segments == 8 and cfg.text_col == "message"
    # unmatched settings keep IndexConfig defaults
    assert cfg.block_size == 128
    # no match at all -> pure defaults over the given base
    assert reg.resolve_config("zzz").n_segments == 2  # catchall


def test_guards(reg):
    with pytest.raises(ValueError, match="unknown index settings"):
        reg.put_component("bad", {"not_a_setting": 1})
    with pytest.raises(ValueError, match="unknown component templates"):
        reg.put_template("t", ["x-*"], composed_of=["nope"])
    reg.put_template("a", ["logs-*"], priority=5)
    # overlapping pattern at the SAME priority -> rejected
    with pytest.raises(ValueError, match="conflicts"):
        reg.put_template("b", ["logs-prod-*"], priority=5)
    # different priority is fine
    reg.put_template("b", ["logs-prod-*"], priority=6)
    assert reg.match("logs-prod-1") == "b"
    reg.delete_template("b")
    assert reg.match("logs-prod-1") == "a"


def test_persistence_roundtrip(reg, tmp_path):
    reg.put_component("c", {"n_segments": 4})
    reg.put_template("t", ["idx-*"], priority=1, composed_of=["c"])
    reg2 = TemplateRegistry(str(tmp_path / "templates.json"))
    assert reg2.resolve_settings("idx-1")["n_segments"] == 4


def test_create_index_applies_template(spark, tmp_path, reg):
    """An edge_ngram analyzer applied BY TEMPLATE makes prefix search
    match — proving the resolved config reaches the real build path and
    is persisted in the index's plan.json."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    reg.put_template(
        "sayt", ["sayt-*"], priority=1,
        settings={
            "n_segments": 2,
            "id_cols": ["doc_id"],
            "text_col": "text",
            "analyzer": {
                "tokenizer": "standard",
                "filter": ["lowercase", {"type": "edge_ngram", "min_gram": 2, "max_gram": 8}],
            },
            "search_analyzer": {"tokenizer": "standard", "filter": ["lowercase"]},
        },
    )
    docs = spark.createDataFrame(
        [(1, "elasticsearch basics"), (2, "opensearch rollout"), (3, "sphinx manual")],
        "doc_id long, text string",
    )
    reg.create_index(spark, docs, str(tmp_path), "sayt-main")
    eng = SearchEngine(InvertedIndex(spark, str(tmp_path / "sayt-main")))
    hits = {r["doc_id"] for r in eng.search({"term": {"text": "open"}}, size=10).collect()}
    assert hits == {2}  # edge_ngram index matches the prefix as a term
    assert eng.index.plan.get("n_segments") == 2
