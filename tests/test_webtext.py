"""Crawl -> training-set bridge: determinism, dedup/filter invariants,
latest-capture selection under recrawl."""

import pytest
from pyspark.sql import functions as F

from data_collector_spark.crawler.driver import CrawlConfig, run_crawl
from data_collector_spark.crawler.state import CrawlState
from data_collector_spark.crawler.webtext import build_training_set, latest_pages
from data_collector_spark.plans import training
from data_collector_spark.sources.generator import synth_pages


@pytest.fixture(scope="module")
def crawl_wd(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("webtext")
    corpus_dir = str(tmp / "corpus")
    synth_pages(spark, 300, n_hosts=6, links_per_page=4, partitions=2,
                min_words=20, max_words=200).write.parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    seeds = pages.select(F.col("url_canon").alias("url")).orderBy("url").limit(
        20
    ).withColumn("priority", F.lit(0))
    robots = spark.createDataFrame([], "host string, path_prefix string")
    budgets = spark.createDataFrame([("", 40)], "host string, budget_per_round int")
    wd = str(tmp / "wd")
    run_crawl(spark, wd, pages, seeds, robots, budgets,
              CrawlConfig(max_rounds=3, default_budget=40))
    return wd


def test_training_set_invariants(spark, crawl_wd):
    ts = build_training_set(spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1)
    rows = ts.collect()
    assert rows, "empty training set from a 300-page crawl"
    # every survivor passes its own recorded features
    for r in rows:
        assert r["lang_pred"] in ("en", "und")
        assert r["n_tok"] >= 1
        assert r["split"] in ("train", "val")
    # exact-dup free: texts unique
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts))
    # ids unique
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))


def test_optional_stages_decontam_repetition_packing(spark, crawl_wd):
    """The r5 optional stages compose onto the bridge: benchmark
    decontamination drops the planted doc, repetition caps only shrink
    the set, and packing appends gap-free token spans."""
    base = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1
    )
    rows = base.collect()
    base_ids = {r["doc_id"] for r in rows}
    victim = min(rows, key=lambda r: r["doc_id"])

    # benchmark = the victim's own text -> its 13-grams collide exactly
    bench = spark.createDataFrame(
        [(victim["doc_id"], victim["text"])], "doc_id string, text string"
    )
    decon_ids = {
        r["doc_id"]
        for r in build_training_set(
            spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1,
            benchmark=bench,
        ).collect()
    }
    if victim["n_tok"] >= 13:
        assert victim["doc_id"] not in decon_ids
    assert decon_ids <= base_ids

    # repetition caps are pure predicates: subset, and a no-op at 1.0
    capped = {
        r["doc_id"]
        for r in build_training_set(
            spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1,
            max_dup_word_frac=1.0, max_top_2gram_frac=1.0,
        ).collect()
    }
    assert capped == base_ids

    # packing: span columns appear; each SPLIT is its own gap-free stream
    # (per-split packing — no chunk may straddle train/val)
    packed = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1,
        pack_budget=64,
    ).collect()
    assert {r["doc_id"] for r in packed} == base_ids
    for split in ("train", "val"):
        spans = sorted(
            (r["start_tok"], r["start_tok"] + r["n_tok"])
            for r in packed if r["split"] == split
        )
        if not spans:
            continue
        assert spans[0][0] == 0
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 == s2
    for r in packed:
        assert r["chunk_first"] == r["start_tok"] // 64
        assert r["chunk_last"] == (r["start_tok"] + r["n_tok"] - 1) // 64


def test_training_set_deterministic(spark, crawl_wd):
    a = sorted(
        (r["doc_id"], r["split"])
        for r in build_training_set(spark, crawl_wd, lang=None, min_quality=0.0).collect()
    )
    b = sorted(
        (r["doc_id"], r["split"])
        for r in build_training_set(spark, crawl_wd, lang=None, min_quality=0.0).collect()
    )
    assert a == b


def test_split_is_pure_function_of_id(spark, crawl_wd):
    """Tightening filters must not move any surviving doc across splits
    (hash membership depends on the id alone, not the surviving set)."""
    loose = {
        r["doc_id"]: r["split"]
        for r in build_training_set(spark, crawl_wd, lang=None, min_quality=0.0).collect()
    }
    tight = {
        r["doc_id"]: r["split"]
        for r in build_training_set(spark, crawl_wd, lang=None, min_quality=0.3).collect()
    }
    assert set(tight) <= set(loose)
    for k, v in tight.items():
        assert loose[k] == v


def test_near_dup_stage_toggles(spark, crawl_wd):
    with_nd = build_training_set(spark, crawl_wd, lang=None, min_quality=0.0).count()
    without = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, near_dup_threshold=0
    ).count()
    assert with_nd <= without


def _pairs(spark, *edges):
    return spark.createDataFrame(list(edges), "a_id string, b_id string")


def test_near_dup_losers_chain_semantics(spark):
    """The judge-documented chain cases: greedy loses docs whose only
    representative was itself dropped (and over-keeps transitive dups);
    components keeps exactly the component minimum."""
    from data_collector_spark.crawler.webtext import near_dup_losers

    # chain a~b, b~c (a<b<c): greedy drops {b, c} — c's only confirmed
    # dup b is gone too; components keeps exactly {a}
    chain = _pairs(spark, ("a", "b"), ("b", "c"))
    assert {r["doc_id"] for r in near_dup_losers(chain, "greedy").collect()} == {
        "b", "c"
    }
    assert {
        r["doc_id"] for r in near_dup_losers(chain, "components").collect()
    } == {"b", "c"}  # same losers here — one component, min 'a' kept

    # star at the top: pairs a~c, b~c — greedy keeps BOTH a and b (b is
    # transitively a dup of a via c); components keeps only 'a'
    star = _pairs(spark, ("a", "c"), ("b", "c"))
    assert {r["doc_id"] for r in near_dup_losers(star, "greedy").collect()} == {"c"}
    assert {
        r["doc_id"] for r in near_dup_losers(star, "components").collect()
    } == {"b", "c"}

    # two separate components + a long chain (exercises >1 iteration):
    # d~e, e~f, f~g collapses to {d}; x~y collapses to {x}
    multi = _pairs(spark, ("d", "e"), ("e", "f"), ("f", "g"), ("x", "y"))
    assert {
        r["doc_id"] for r in near_dup_losers(multi, "components").collect()
    } == {"e", "f", "g", "y"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="resolution"):
        near_dup_losers(chain, "magic")


def test_components_warns_on_nonconvergence(spark):
    """A component wider than max_iters hops must NOT pass silently: the
    partial labeling over-keeps representatives (code-review r5), so the
    cap-exhaustion path raises a RuntimeWarning the caller can trap."""
    import warnings

    import pytest as _pytest

    from data_collector_spark.crawler.webtext import near_dup_losers

    # chain a~b~c~d~e: diameter 4, needs >1 min-label rounds end to end
    chain = _pairs(spark, ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        got = {
            r["doc_id"]
            for r in near_dup_losers(chain, "components", max_iters=1).collect()
        }
    # partial labels are still a labeling — at minimum the direct b..e
    # neighbors of the minimum moved; exact content is iteration-dependent
    assert got <= {"b", "c", "d", "e"}

    # ample budget: converges, keeps exactly the component minimum, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        full = {
            r["doc_id"]
            for r in near_dup_losers(chain, "components", max_iters=20).collect()
        }
    assert full == {"b", "c", "d", "e"}


def test_components_resolution_in_training_set(spark, crawl_wd):
    """components mode keeps at most as many docs as greedy over-keeps,
    stays deterministic, and never keeps two docs from one confirmed
    pair."""
    greedy = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, resolution="greedy"
    )
    comp = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, resolution="components"
    )
    g_ids = {r["doc_id"] for r in greedy.collect()}
    c_ids = {r["doc_id"] for r in comp.collect()}
    assert c_ids <= g_ids  # components only removes transitive over-keeps
    c2 = {
        r["doc_id"]
        for r in build_training_set(
            spark, crawl_wd, lang=None, min_quality=0.0, resolution="components"
        ).collect()
    }
    assert c_ids == c2


@pytest.mark.parametrize(
    "pipeline", ["training_set_components", "dedup_minhash_lsh", "dedup_simhash"]
)
def test_components_mode_leaves_no_caches(spark, crawl_wd, sf_dir, pipeline):
    """ADVICE r4: no cache a pipeline takes may outlive it — running AND
    consuming it adds zero persistent RDDs to the session. The training
    set's components mode materializes its loser set to a workdir side
    table; the near-dup pair queries keep their doc->rep map uncached."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    if pipeline == "training_set_components":
        df = build_training_set(
            spark, crawl_wd, lang=None, min_quality=0.0, resolution="components"
        )
        assert df.count() > 0  # materialize the caller's lazy pipeline too
    else:
        getattr(training, pipeline)(spark, sf_dir).count()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked persisted RDDs: {after - before}"


def test_latest_capture_wins_under_recrawl(spark, tmp_path):
    """A url re-fetched by the recrawl warden contributes its NEWEST
    round's text exactly once."""
    corpus_dir = str(tmp_path / "rc_corpus")
    synth_pages(spark, 12, n_hosts=2, links_per_page=2, dead_frac=0.0,
                partitions=1).write.parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    seeds = pages.select(F.col("url_canon").alias("url")).withColumn(
        "priority", F.lit(0)
    )
    robots = spark.createDataFrame([], "host string, path_prefix string")
    budgets = spark.createDataFrame([("", 50)], "host string, budget_per_round int")
    wd = str(tmp_path / "rc_wd")
    run_crawl(spark, wd, pages, seeds, robots, budgets,
              CrawlConfig(max_rounds=5, default_budget=50,
                          recrawl_ttl_rounds=2))
    state = CrawlState(wd)
    # recrawl fetched every url at least twice...
    per_url = (
        state.read_all(spark, "pages_out").groupBy("url_sha1").count()
    )
    assert per_url.filter("count >= 2").count() == 12
    # ...but latest_pages emits each exactly once, from the newest round
    lp = latest_pages(spark, state)
    assert lp.count() == 12
    newest = (
        state.read_all(spark, "pages_out")
        .groupBy("url_sha1").agg(F.max("round").alias("r"))
    )
    joined = (
        state.read_all(spark, "pages_out")
        .join(newest, "url_sha1")
        .filter(F.col("round") == F.col("r"))
        .select("url_sha1", F.col("extracted_text").alias("want"))
        .join(lp.select(F.col("doc_id").alias("url_sha1"), "text"), "url_sha1")
    )
    assert joined.filter(F.col("want") != F.col("text")).count() == 0


def test_mixing_composes_with_training_set(spark, crawl_wd):
    """The bridge output composes with source mixing downstream: derive
    the source (host) from url_canon, mix the TRAIN side only — the
    training-distribution composition step a pretraining pipeline runs
    after selection. Pins that bridge keys survive the mixing explode
    (copy counts are a pure function of doc_id) and val is untouched."""
    from data_collector_spark.functions.mixing import mix_sources

    ts = build_training_set(
        spark, crawl_wd, lang=None, min_quality=0.0, min_tokens=1
    ).withColumn(
        "source", F.regexp_extract("url_canon", r"^https?://([^/]+)/", 1)
    )
    weights = (
        ts.select("source").distinct()
        .select("source", F.lit(2_500_000).cast("long").alias("weight_ppm"))
    )
    train = ts.filter(F.col("split") == "train")
    mixed = mix_sources(train, weights)
    n_train = train.count()
    n_mixed = mixed.count()
    # weight 2.5: every train doc 2 or 3 copies, never anything else
    assert 2 * n_train <= n_mixed <= 3 * n_train
    per_doc = mixed.groupBy("doc_id").count()
    assert per_doc.filter(~F.col("count").isin(2, 3)).count() == 0
    # copies join back to the bridge's full rows losslessly
    rejoined = mixed.join(ts, ["doc_id", "source"])
    assert rejoined.count() == n_mixed
    assert rejoined.filter(F.col("split") != "train").count() == 0
