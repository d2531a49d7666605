"""Entity linking: broadcast alias join, weight tie-break, LSH
reachability of edit-variant aliases, canonicalization map."""

import pyspark.sql.functions as F
import pytest

from arabicner_spark import oracle, schemas
from arabicner_spark.functions.joins import salted_join
from arabicner_spark.operators import linking, ner, triples
from arabicner_spark.sources import synth


@pytest.fixture(scope="module")
def linked(spark):
    df = synth.transcripts_df(spark, n_convs=20, seed=42)
    m = ner.extract_mentions(df, synth.gazetteer_dict())
    smap = linking.link_surfaces(m, synth.alias_df(spark))
    return m, smap.collect()


def test_direct_alias_hits_and_tiebreak(spark, linked):
    m, rows = linked
    by_surface = {r.surface: r for r in rows}
    # every surface appears exactly once in the map
    assert len(by_surface) == len(rows)
    # the ambiguous alias الاسد -> two entities; weight 1.0 (PERS
    # E000xxx) must beat weight 0.2 (E900000)
    asad = by_surface["الاسد"]
    assert asad.link_kind == "alias"
    assert asad.canonical_id != "E900000"
    # alias-linked surfaces dominate (gazetteer == alias source)
    kinds = {r.link_kind for r in rows}
    assert "alias" in kinds


def test_oracle_link_agreement(spark, linked):
    m, rows = linked
    alias_rows = synth.make_alias_rows()
    mentions = [
        (r.conv_id, r.turn_idx, r.level, r.type, r.start_tok, r.end_tok, r.text)
        for r in m.collect()
    ]
    want = oracle.oracle_link(mentions, alias_rows)
    got = {r.surface: r.canonical_id for r in rows if r.link_kind == "alias"}
    assert got == want


def test_lsh_reaches_edit_variant(spark, monkeypatch):
    """A surface that is an edit-distance-1 variant of an alias (no
    exact hit) must link via LSH + components to that alias' entity,
    on the driver branch and on the forced distributed plan."""
    from datetime import datetime, timezone

    # نابلسX-style variant: drop last char of a long alias
    target = "القاهرة"  # normalized: القاهره ; variant القاهر
    rows = [("c1", 0, "user", "زار القاهر أمس", None, datetime(2026, 1, 1, tzinfo=timezone.utc))]
    df = spark.createDataFrame(rows, schemas.TRANSCRIPTS)
    gaz = {"GPE": {("القاهر",)}}  # make NER detect the variant surface
    m = ner.extract_mentions(df, gaz)
    # القاهر is itself an alias row (edit variant planted by
    # make_alias_rows with weight 0.5) OR reachable via LSH; either way
    # it must resolve to القاهرة's entity id
    alias_rows = synth.make_alias_rows()
    from arabicner_spark.functions.normalize import normalize_py
    want = [eid for a, eid, t, w in alias_rows if a == normalize_py(target)][0]
    for limit in (linking.LOCAL_LIMIT, 0):
        monkeypatch.setattr(linking, "LOCAL_LIMIT", limit)
        smap = {r.surface: (r.canonical_id, r.link_kind) for r in
                linking.link_surfaces(m, synth.alias_df(spark)).collect()}
        canon, kind = smap["القاهر"]
        assert canon == want


def test_canonicalize_triples_rewrites_ids(spark, linked, monkeypatch):
    df = synth.transcripts_df(spark, n_convs=20, seed=42)
    m = ner.extract_mentions(df, synth.gazetteer_dict())
    t = triples.extract_triples(m)
    # the driver branch, then the forced distributed plan
    for limit in (linking.LOCAL_LIMIT, 0):
        monkeypatch.setattr(linking, "LOCAL_LIMIT", limit)
        smap = linking.link_surfaces(m, synth.alias_df(spark))
        edges = linking.canonicalize_triples(t, smap)
        assert edges.count() == t.count()
        # every src/dst resolved to an entity id or S: surface
        bad = edges.where(
            ~(F.col("src").startswith("E") | F.col("src").startswith("S:"))
        ).count()
        assert bad == 0
        # gazetteer surfaces must all resolve to E-ids (they are aliases)
        assert edges.where(F.col("src").startswith("S:")).count() == 0


def test_salted_join_matches_plain_join(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(str(i), f"d{i}") for i in range(7)], "k string, name string"
    )
    plain = {(r.v, r.name) for r in fact.join(dim, "k").collect()}
    salted = {(r.v, r.name) for r in salted_join(fact, dim, "k", salt=4, how="inner").collect()}
    assert plain == salted and len(plain) == 1000


def test_salted_alias_path_matches_broadcast(spark, monkeypatch):
    """Forcing the salted shuffle join (broadcast_alias_limit=0) must
    produce the identical surface map.  Both runs take the distributed
    plan: the driver branch has no alias join to switch."""
    monkeypatch.setattr(linking, "LOCAL_LIMIT", 0)
    df = synth.transcripts_df(spark, n_convs=10, seed=5)
    m = ner.extract_mentions(df, synth.gazetteer_dict())
    a = synth.alias_df(spark)
    bc = {(r.surface, r.canonical_id, r.link_kind)
          for r in linking.link_surfaces(m, a).collect()}
    salted = {(r.surface, r.canonical_id, r.link_kind)
              for r in linking.link_surfaces(m, a, broadcast_alias_limit=0).collect()}
    assert bc == salted and bc


def test_custom_score_fn_injection(spark):
    """A drop-in scorer that suppresses one level must change decode
    output accordingly (the model injection point works end-to-end)."""
    import numpy as np

    from arabicner_spark.functions import tagcore

    def no_gpe_scorer(norm_tokens, pg, types, msl, enc=None):
        logits = tagcore.score_turn(norm_tokens, pg, types, msl, enc=enc)
        lvl = types.index("GPE")
        logits[:, lvl, :] = 0.0
        logits[:, lvl, tagcore.O_ID] = 1.0
        return logits

    df = synth.transcripts_df(spark, n_convs=6, seed=5)
    gaz = synth.gazetteer_dict()
    base = ner.extract_mentions(df, gaz).collect()
    custom = ner.extract_mentions(df, gaz, score_fn=no_gpe_scorer).collect()
    assert any(r.type == "GPE" for r in base)
    assert not any(r.type == "GPE" for r in custom)
    assert {(r.conv_id, r.turn_idx, r.level, r.start_tok) for r in custom} == {
        (r.conv_id, r.turn_idx, r.level, r.start_tok) for r in base if r.type != "GPE"
    }


def test_salted_join_rejects_key_only_salt(spark):
    """A salt that is a pure function of the join key gives zero skew
    relief while paying S-fold dim replication — reject loudly."""
    fact = spark.createDataFrame([("a",), ("a",)], "k string")
    dim = spark.createDataFrame([("a", "d")], "k string, name string")
    with pytest.raises(ValueError, match="pure function"):
        salted_join(fact, dim, "k")
    with pytest.raises(ValueError, match="pure function"):
        salted_join(
            fact.withColumn("v", F.lit(1)), dim, "k", salt_by=["k"]
        )


def _synth_case(n_convs, seed):
    def build(spark):
        t = synth.transcripts_df(spark, n_convs=n_convs, seed=seed)
        return t, ner.extract_mentions(t, synth.gazetteer_dict()), synth.alias_df(spark)

    return build


def _text_case(texts, alias_rows):
    """All ``texts`` as mentions of one turn, types alternating PERS/ORG
    so adjacent mentions also form works_for triples."""

    def build(spark):
        from datetime import datetime, timezone

        t = spark.createDataFrame(
            [("c1", 0, "user", " ".join(texts), None, datetime(2026, 1, 1, tzinfo=timezone.utc))],
            schemas.TRANSCRIPTS,
        )
        m = spark.createDataFrame(
            [("c1", 0, k % 2, ("PERS", "ORG")[k % 2], k, k + 1, x) for k, x in enumerate(texts)],
            schemas.MENTIONS,
        )
        return t, m, spark.createDataFrame(alias_rows, schemas.ALIAS_DICT)

    return build


_ALIASES = [
    ("محمد علي", "E1", "PERS", 1.0),
    ("شركه النور", "E2", "ORG", 1.0),
    ("القاهره", "E3", "GPE", 1.0),
]

# (case, input builder, (surface, canonical_id, link_kind) rows the
# local map must hold, so each case exercises what it names)
_PARITY_CASES = [
    ("synth_seed42", _synth_case(20, 42), []),
    ("synth_seed5", _synth_case(10, 5), []),
    ("no_mentions", _text_case([], _ALIASES), []),
    ("all_alias_hits", _text_case(["محمد علي", "القاهره"], _ALIASES), [("القاهره", "E3", "alias")]),
    (
        "empty_alias_dict",
        _text_case(["عبد الرحمن السعيد", "عبد الرحمن السعيدي", "زيد"], []),
        [("عبد الرحمن السعيدي", "S:عبد الرحمن السعيد", "lsh_cluster"), ("زيد", "S:زيد", "self")],
    ),
    (
        "equal_weight_ties",
        _text_case(["نور", "نورا"], [("نور", "E9", "PERS", 1.0), ("نور", "E4", "ORG", 1.0)]),
        [("نور", "E4", "alias")],
    ),
    ("short_surfaces", _text_case(["ا", "اب", "ب", "ابت"], [("ا", "E7", "PERS", 1.0), ("ابت", "E8", "ORG", 1.0)]), []),
    (
        "two_entities_in_component",
        _text_case(
            ["موسسه البحوث العلميا"],
            [("موسسه البحوث العلميه", "E6", "ORG", 1.0), ("موسسه البحوث العلمي", "E5", "ORG", 1.0)],
        ),
        [("موسسه البحوث العلميا", "E5", "lsh")],
    ),
    (
        # 3-shingle sets sharing 2 of 4: Jaccard exactly at the 0.5 threshold
        "jaccard_at_threshold",
        _text_case(["نابلز"], [("نابلس", "E1", "GPE", 1.0)]),
        [("نابلز", "E1", "lsh")],
    ),
    (
        "arabic_fold",
        _text_case(["مُحَمَّد عَلِي", "شركة النور", "القاهرة"], _ALIASES),
        [("محمد علي", "E1", "alias"), ("شركه النور", "E2", "alias")],
    ),
]


@pytest.mark.parametrize("build,want", [c[1:] for c in _PARITY_CASES], ids=[c[0] for c in _PARITY_CASES])
def test_local_branch_matches_distributed(spark, monkeypatch, build, want):
    """The driver branch of link_surfaces and the distributed plan
    (forced with LOCAL_LIMIT = 0, with the broadcast alias join and with
    the shuffle join) give set-equal surface maps, and so set-equal
    edges and nodes, on synth and degenerate inputs."""
    from arabicner_spark.plans import pipeline

    t, m, a = build(spark)
    m = m.localCheckpoint(eager=True)
    tr = triples.extract_triples(m)

    def outputs(**kw):
        smap = linking.link_surfaces(m, a, **kw).localCheckpoint(eager=True)
        return [
            {tuple(r) for r in df.collect()}
            for df in (smap, pipeline._edges(tr, smap, t), pipeline._nodes(m, smap, t))
        ]

    local = outputs()
    monkeypatch.setattr(linking, "LOCAL_LIMIT", 0)
    assert outputs() == local
    assert outputs(broadcast_alias_limit=0) == local
    assert set(want) <= local[0]
