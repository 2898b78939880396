"""End-to-end pipeline tests on the deterministic synthetic corpus."""

import re

import pytest
from pyspark.sql import functions as F

from bern2_spark import corpus
from bern2_spark.pipeline import (_fan_out_narrow_scan, pipeline_input,
                                  run_pipeline)
from bern2_spark.schemas import CUI_LESS


def _synthetic(spark, n_docs):
    lex = corpus.make_lexicon(42)
    return run_pipeline(corpus.documents_df(spark, n_docs, 42, lex), lex,
                        spark)


def test_triples_exist_and_shape(synthetic_result):
    rows = synthetic_result.triples.collect()
    assert len(rows) > 20
    assert all(r.pred.startswith("has_") for r in rows)
    assert all(r.obj != CUI_LESS for r in rows)


def test_annotation_span_invariant(synthetic_result):
    joined = synthetic_result.annotations.join(
        synthetic_result.docs.select("doc_id", "text"), "doc_id")
    bad = joined.filter(
        "substring(text, begin + 1, end - begin) != mention").count()
    assert bad == 0


def test_mutations_present_with_null_prob(synthetic_result):
    muts = (synthetic_result.annotations.filter("obj = 'mutation'")
            .collect())
    assert muts and all(m.prob is None for m in muts)
    assert any(m.mutationType == "ProteinMutation" for m in muts)


def test_species_blocklist_filtered(synthetic_result):
    surfaced = {r.mention for r in synthetic_result.annotations
                .filter("obj = 'species'").collect()}
    assert "patients" not in surfaced and "human" not in surfaced
    assert "Homo sapiens" in surfaced


def test_prefix_standardization(synthetic_result):
    objs = synthetic_result.triples.select("obj").distinct().collect()
    vals = {r.obj for r in objs}
    assert not any(v.startswith("EntrezGene:") for v in vals)
    assert any(v.startswith("NCBIGene:") for v in vals)
    assert any(v.startswith("NCBITaxon:") for v in vals)
    assert any(v.startswith("mesh:") for v in vals)


def test_neural_fallback_links_suffixy_surfaces(synthetic_result):
    neural = (synthetic_result.annotations
              .filter("is_neural_normalized").collect())
    assert neural  # granulomatosis-style surfaces got linked by embedding


def test_determinism(spark, synthetic_result):
    r2 = _synthetic(spark, 60)
    a = sorted(map(tuple,
                   synthetic_result.annotations.drop("prob").collect()))
    b = sorted(map(tuple, r2.annotations.drop("prob").collect()))
    assert a == b


def test_no_overlap_conflicts(synthetic_result):
    # after W1, every (doc, span) among non-mutation rows carries a
    # single (cui-set, type)
    non_mut = synthetic_result.annotations.filter("obj != 'mutation'")
    conflict = (non_mut.groupBy("doc_id", "begin", "end")
                .agg(F.countDistinct("obj").alias("n_types"))
                .filter("n_types > 1").count())
    assert conflict == 0


def test_tag_only_sentinel_never_escapes(spark):
    """ADVICE r1: tag-only gazetteer rows (cui sentinel) must never be
    emitted as real object ids — the neural index is built from the
    NORMALIZATION lexicon only, so a tag-only surface can't match
    itself at cosine 1.0 and smuggle the sentinel into the triples."""
    from bern2_spark.queries import _docs

    docs = (_docs(spark, "/root/testdata/sf0.001")
            .transform(pipeline_input))
    with run_pipeline(docs, corpus.DRIVER_VOCAB_LEXICON, spark) as res:
        bad = res.triples.filter(
            F.col("obj").contains(corpus.TAG_ONLY)).count()
        assert bad == 0
        # tag-only surfaces still flow through tagging: they appear as
        # mentions (the tagger knows more surfaces than the dictionaries)
        tagged = res.mentions.filter(F.col("mention").isin(
            "group", "sort", "agg")).count()
        assert tagged > 0


def test_release_unpersists(spark):
    before = len([r for r in spark.sparkContext._jsc.getPersistentRDDs()])
    res = _synthetic(spark, 30)
    res.triples.count()
    assert len(res._persisted) > 0
    res.release()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before


@pytest.fixture(scope="module")
def one_file_docs(spark, tmp_path_factory):
    """The synthetic corpus as a single-file parquet, plus its lexicon."""
    lex = corpus.make_lexicon(42)
    path = str(tmp_path_factory.mktemp("one_file") / "docs.parquet")
    corpus.documents_df(spark, 60, 42, lex).coalesce(1).write.parquet(path)
    return path, lex


def _round_robin_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in
            re.findall(r"Exchange RoundRobinPartitioning\((\d+)\)", plan)]


def test_fan_out_single_file_scan(spark, one_file_docs):
    """A one-file scan gets exactly one round-robin exchange, to the
    session's parallelism."""
    scan = spark.read.parquet(one_file_docs[0])
    assert len(scan.inputFiles()) == 1
    out = _fan_out_narrow_scan(scan, spark)
    assert _round_robin_exchanges(out) == [
        spark.sparkContext.defaultParallelism]


def test_fan_out_skips_cached_input(spark, one_file_docs):
    cached = spark.read.parquet(one_file_docs[0]).cache()
    try:
        out = _fan_out_narrow_scan(cached, spark)
        assert out is cached
        assert _round_robin_exchanges(out) == []
    finally:
        cached.unpersist()


def test_pipeline_triples_invariant_to_input_partitioning(spark,
                                                          one_file_docs):
    """The fanned-out one-file scan and an input already spread over a
    different partition count (cached, so it is not fanned out again)
    give the same triples."""
    path, lex = one_file_docs

    def triples(docs):
        with run_pipeline(docs, lex, spark) as res:
            return sorted(map(tuple, res.triples.collect()))

    raw = spark.read.parquet(path)
    assert raw.rdd.getNumPartitions() == 1
    spread = raw.repartition(7).cache()
    try:
        spread.count()
        want = triples(raw)
        assert want
        assert triples(spread) == want
    finally:
        spread.unpersist()


def _outer_final_plan(df) -> str:
    """The final AQE plan of the cached relation under ``df``: the text
    between its first '== Final Plan ==' and the '== Initial Plan =='
    at the same indentation (nested cached plans print their own pair
    deeper in)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    start = next(i for i, x in enumerate(lines) if "== Final Plan ==" in x)
    col = lines[start].index("==")
    end = next(i for i in range(start + 1, len(lines))
               if lines[i].find("== Initial Plan ==") == col)
    return "\n".join(lines[start:end])


def test_abbreviation_retry_reuses_the_sieve_broadcasts(spark):
    """The abbreviation retry runs in the main sieve's rows and plan: the
    post-abbreviation mentions' executed plan holds no join keyed on
    mention_id, and the sieve's one lookup table is broadcast once — the
    other 13 of its 14 probes (7 levels in the main pass, 7 in the retry)
    read that broadcast as a ReusedExchange."""
    lex = corpus.make_lexicon(42)
    lf = next(n for t, _c, n in lex if t == "disease" and " " in n)
    sf = "".join(w[0] for w in lf.split()).upper()
    lex = lex + [("disease", corpus.TAG_ONLY, sf)]
    extra = spark.createDataFrame(
        [("repo", f"docs/a{i}.txt", f"c{i}", "en",
          f"Patients with {lf} ({sf}) were enrolled. {sf} progressed.")
         for i in range(4)], "repo string, path string, commit string, "
        "lang string, content string")
    docs = corpus.documents_df(spark, 20, 42, lex).unionByName(extra)
    with run_pipeline(docs, lex, spark, neural=False) as res:
        retried = res.normalized.filter(F.col("mention") == sf)
        assert retried.count() > 0
        assert retried.filter(F.col("cui") == CUI_LESS).count() == 0
        plan = _outer_final_plan(res.normalized)
    assert not re.search(r"Join \[[^\]]*\bmention_id#", plan)
    # a sieve probe's broadcast side outputs its level's cui_<level> hit
    reused = re.findall(
        r"[+:]- ReusedExchange \[[^\]]*\bcui_\w+#[^\]]*\], "
        r"BroadcastExchange .*\[plan_id=(\d+)\]", plan)
    assert len(reused) == 13
    assert len(set(reused)) == 1
    built = re.findall(r"[+:]- BroadcastExchange .*\[plan_id=(\d+)\]", plan)
    assert built.count(reused[0]) == 1
