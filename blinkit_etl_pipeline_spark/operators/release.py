"""Versioned incremental corpus releases — the LLM-data capstone
(r11, VERDICT r10 #7): each document drop advances a maintained,
versioned "release" — the curated training corpus — with takedowns,
redeliveries, and labeled release-to-release CDC all served from
persisted state.

The composition (every piece ships standalone):

- **attributes store** — one row per ingested doc with its row-local
  curation attributes (lang, md5 text hash, token count, quality
  score, language-ID, Gopher verdict); `_ingest_rows` lifecycle, so
  redelivery/tombstones/CAS/compaction match every other index store.
- **unigram postings store** (``incremental.ingest_bm25_postings``) —
  per-doc token counts: the NB quality model's features AND the
  corpus vocabulary.
- **bigram postings store** (``incremental.ingest_bigram_postings``)
  — per-doc bigram counts: the perplexity LM's features.

The release READ (:func:`release_read`) re-derives the full
model-gated curation pipeline (`ns_pipeline_curation_model`'s chain:
rule gates → NB gate → perplexity gate → exact dedup → stratified
sample → hash split) **from the stores alone — document text is never
re-tokenized**. The model gates are corpus-dependent (NB trains on
the corpus's own Gopher verdicts; the perplexity threshold is the
corpus mean), so new drops can flip old verdicts: the read rescores
every live doc against the CURRENT maintained counts — a store-sized
join pass, not a text pass — which is exactly what makes the read
equal the batch recompute over the union (pytest + `ns_incr_release`
oracle). A takedown (:func:`release_takedown` — the
``incremental.takedown`` fan-out) shifts the models automatically
because they are derived from live postings.

:func:`publish_release` materializes the read as a new full-overwrite
version of a release snapshot table; :func:`release_cdc` labels the
diff between two published versions (docs entering/leaving the
corpus — the ns_incr_curated_cdc pattern at corpus grain).

Scale: ingest is drop-priced (three store appends); the read is hash
aggregates over postings rows + vocabulary-sized model joins + one
dedup window — corpus-linear over STORE rows with no tokenize pass;
publish adds one write of the selected corpus listing. Reference
parity: none to cite — the reference (13-file Glue demo) has no
curation pipeline; this follows CCNet/RefinedWeb composition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import lm
from ..functions import text as T
from . import incremental, selection, snapshot

#: rule-gate defaults — mirror plans/northstar's curation constants so
#: the release read equals ns_pipeline_curation_model by default
MIN_QUALITY = 0.55
MIN_TOKENS = 20


def stores(root: str) -> dict[str, str]:
    """The release's store layout under one root."""
    return {
        "attrs": os.path.join(root, "attrs"),
        "unigram": os.path.join(root, "unigram_postings"),
        "bigram": os.path.join(root, "bigram_postings"),
        "release": os.path.join(root, "release"),
        "verdicts": os.path.join(root, "verdicts"),
        "models": os.path.join(root, "models"),
        "drift": os.path.join(root, "drift"),
    }


def attrs_frame(docs: DataFrame, text: str = "text") -> DataFrame:
    """Row-local curation attributes for one batch — everything the
    release read needs about a doc EXCEPT its token/bigram counts
    (those live in the postings stores): identity, md5 text hash (the
    exact-dedup key), token count, quality score, language-ID, and
    the Gopher verdict (the NB gate's weak-supervision label). One
    tokenize pass, map-side only; text itself is NOT retained."""
    toks = T.tokens(F.col(text))
    q = T.quality_columns(F.col(text), toks)
    lid = T.langid_columns(F.col(text), toks)
    gopher = T.gopher_columns(F.col(text), toks)
    return docs.select(
        "doc_id",
        "lang",
        F.md5(F.col(text)).alias("text_hash"),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        lid["predicted_lang"].alias("predicted_lang"),
        gopher["gopher_pass"].alias("gopher_pass"),
    )


#: hashed-token histogram width for the release drift monitor (the
#: profile.drift_psi bucket space) — 64 buckets keeps the maintained
#: partials tiny while PSI stays sensitive to vocabulary-level shift
DRIFT_BUCKETS = 64


def _drop_token_hist(docs: DataFrame, text: str = "text") -> DataFrame:
    """(feature, bucket, cnt) token-mass histogram of one drop — the
    drift-monitor partial :func:`ingest_release` appends per drop.
    Cross-engine h32 buckets so the gauge oracle replays it."""
    return (
        docs.select(F.explode(T.tokens(F.col(text))).alias("token"))
        .select((T.h32("token") % DRIFT_BUCKETS).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(F.lit("token_mass").alias("feature"), "bucket", "cnt")
    )


def ingest_release(
    spark: SparkSession, root: str, new_docs: DataFrame
) -> dict[str, int]:
    """One drop → four store appends (attributes, unigram postings,
    bigram postings, drift-histogram partials), each under its own
    redelivery guard, so a replayed drop is a no-op in all four and a
    partially-seen batch indexes only its fresh docs everywhere.
    Returns store → committed version. Publishing stays an explicit
    act (:func:`publish_release`): a corpus version is pinned
    deliberately, not per ingested drop.

    The drift partials (r13, VERDICT r12 #5) are the token-mass
    histogram of the drop's FRESH docs only (the same doc_id guard
    semantics as the other stores, enforced by an explicit anti-join
    since histograms can't dedup after the fold), keyed by a
    content-derived batch_id so byte-identical redelivery is a no-op
    there too. They make the drift-gated read's PSI a model-sized
    subtraction (incremental.drift_from_store) instead of a corpus
    pass. Takedowns deliberately do NOT retract histogram mass: the
    monitor compares ARRIVALS against the pinned corpus, and any
    takedown routes the read to the full rescore regardless."""
    s = stores(root)
    docs = new_docs.dropDuplicates(["doc_id"]).localCheckpoint(
        eager=False
    )
    fresh = docs
    if snapshot.current_version(s["attrs"]) is not None:
        seen = incremental.read_store_live(
            spark, s["attrs"], "doc_id"
        ).select("doc_id")
        fresh = docs.join(seen, "doc_id", "left_anti")
    fresh = fresh.localCheckpoint(eager=True)
    # the four appends touch DISJOINT stores and all derive from the
    # two checkpointed frames above — overlapped (r14, guide §2.6) the
    # drop's ingest wall is the slowest store's append, not the sum
    av, uv, bv, bid = incremental.overlap_store_ops(spark, [
        lambda: incremental._ingest_rows(
            spark, s["attrs"], attrs_frame(docs), "doc_id"
        ),
        lambda: incremental.ingest_bm25_postings(spark, s["unigram"], docs),
        lambda: incremental.ingest_bigram_postings(spark, s["bigram"], docs),
        lambda: fresh.agg(
            F.coalesce(F.min("doc_id"), F.lit(-1)).alias("lo"),
            F.coalesce(F.max("doc_id"), F.lit(-1)).alias("hi"),
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("s"),
        ).collect()[0],
    ])
    dv = None
    if int(bid["n"]) > 0:
        dv = incremental.ingest_drift_buckets(
            spark, s["drift"], _drop_token_hist(fresh),
            batch_id=f"drop-{bid['lo']}-{bid['hi']}-{bid['n']}-{bid['s']}",
        )
    return {"attrs": av, "unigram": uv, "bigram": bv, "drift": dv}


def release_takedown(spark: SparkSession, root: str, ids) -> dict[str, int]:
    """One legal request, every release store — the
    ``incremental.takedown`` fan-out over the three maintained stores.
    The next :func:`release_read` rescores everything against the
    survivor-derived models (counts shift automatically because they
    fold from live postings)."""
    s = stores(root)
    return incremental.takedown(spark, ids, [
        (s["attrs"], "doc_id"),
        (s["unigram"], "doc_id"),
        (s["bigram"], "doc_id"),
    ])


def release_read(
    spark: SparkSession,
    root: str,
    *,
    strata_rates: dict[str, float],
    default_rate: float = 0.2,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
) -> DataFrame:
    """The current release, derived from maintained state only:

    1. rule gates on stored attributes (quality / token count /
       language-ID — map-side filters);
    2. NB quality gate: features = live unigram postings, labels =
       stored Gopher verdicts (``lm.nb_from_parts`` — the identical
       arithmetic the batch gate runs);
    3. perplexity gate: features = live bigram postings, vocabulary =
       distinct live tokens (``lm.nll_from_parts``);
    4. exact dedup (min doc_id per stored md5 hash among gated docs);
    5. per-language stratified downsample + leak-free hash split
       (deterministic id-hash gates).

    Output schema matches ``ns_pipeline_curation_model``: (doc_id,
    lang, predicted_lang, n_tokens, quality_score, split)."""
    return _read_from_scores(
        spark, root, release_scores(spark, root),
        strata_rates=strata_rates, default_rate=default_rate,
        min_quality=min_quality, min_tokens=min_tokens,
    )


def _score_parts(spark: SparkSession, root: str) -> dict:
    """The live store frames every model (re)derivation starts from:
    labels, NB token occurrences, bigram occurrences, vocabulary —
    shared by :func:`release_scores` (score everything) and
    :func:`maintain_release_verdicts` (score + persist the models)."""
    s = stores(root)
    attrs = incremental.read_store_live(spark, s["attrs"], "doc_id")
    post = incremental.read_store_live(
        spark, s["unigram"], "doc_id"
    ).filter(F.col("token").isNotNull() & F.col("doc_id").isNotNull())
    big = incremental.read_store_live(
        spark, s["bigram"], "doc_id"
    ).filter(F.col("doc_id").isNotNull() & F.col("w1").isNotNull())
    lab = attrs.select("doc_id", F.col("gopher_pass").alias("pass"))
    return {
        "attrs": attrs,
        "lab": lab,
        "occ_nb": post.select("doc_id", "token", "tf").join(lab, "doc_id"),
        "occ_lm": big.select(
            "doc_id", "w1", "w2", F.col("c12").alias("tf")
        ),
        "vocab": post.agg(
            F.count_distinct("token").cast("double").alias("v")
        ),
    }


def release_scores(spark: SparkSession, root: str) -> DataFrame:
    """The full model-rescore pass — per-doc NB log-odds and bigram-LM
    NLL for EVERY live doc against the CURRENT maintained counts
    (``lm.nb_from_parts`` / ``lm.nll_from_parts``, the identical
    arithmetic the batch gates run). This is the store-pass-sized term
    of a release read (postings rows × vocabulary-sized model joins);
    everything downstream of it is doc-level. Returns (doc_id,
    log_odds_q, n_bigrams, nll_q) — the sufficient statistics both
    model gates threshold on, which is exactly what the verdict store
    caches (:func:`maintain_release_verdicts`)."""
    parts = _score_parts(spark, root)
    nb = lm.nb_from_parts(parts["lab"], parts["occ_nb"]).select(
        "doc_id", "log_odds_q"
    )
    ppl = lm.nll_from_parts(
        parts["attrs"].select("doc_id"), parts["occ_lm"], parts["vocab"]
    ).select("doc_id", "n_bigrams", "nll_q")
    return nb.join(ppl, "doc_id")


def _read_from_scores(
    spark: SparkSession,
    root: str,
    scores: DataFrame,
    *,
    strata_rates: dict[str, float],
    default_rate: float,
    min_quality: float,
    min_tokens: int,
) -> DataFrame:
    """The doc-level half of a release read: model-gate thresholds
    over per-doc scores (NB: log_odds_q > 0; perplexity: mean-relative
    flag, the corpus mean re-derived from the SAME scores frame — so
    cached and fresh scores yield bit-identical gates), then rule
    gates, exact dedup, stratified sample, split. Everything here is
    one-row-per-doc work."""
    s = stores(root)
    attrs = incremental.read_store_live(spark, s["attrs"], "doc_id")
    scored = scores.withColumn(
        "avg_q",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                F.col("nll_q").cast("double")
                / F.col("n_bigrams").cast("double"),
                0,
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    mean = scored.filter(F.col("n_bigrams") > 0).agg(
        (
            F.sum("avg_q").cast("double") / F.count("*").cast("double")
        ).alias("mean_avg_q")
    )
    keep = (
        scored.crossJoin(F.broadcast(mean))
        .filter(F.col("log_odds_q") > 0)
        .filter(
            ~(
                (F.col("n_bigrams") > 0)
                & (F.col("avg_q").cast("double") > F.col("mean_avg_q"))
            )
        )
        .select("doc_id")
    )
    gated = attrs.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("predicted_lang") != "und")
    ).join(keep, "doc_id")
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    surv = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return selection.hash_split(
        selection.stratified_sample(
            surv,
            "predicted_lang",
            strata_rates,
            default_rate=default_rate,
        )
    ).select(
        "doc_id", "lang", "predicted_lang", "n_tokens",
        "quality_score", "split",
    )


def _release_state_sig(root: str) -> str:
    """Fingerprint of everything the model scores depend on: the
    three stores' current snapshot versions plus their tombstone
    tables' versions. The NB/LM models are corpus-derived integer
    counts, so ANY committed change (drop, takedown, compaction that
    rewrites live rows is version-bumping too) can shift them — and
    conversely, if no version moved, the maintained counts are
    byte-identical and every cached per-doc score is still exact.
    Redelivered drops commit nothing (the doc_id guards), so they
    keep the signature stable by construction."""
    s = stores(root)
    parts = []
    for key in ("attrs", "unigram", "bigram"):
        t = s[key]
        parts.append(f"{key}={snapshot.current_version(t)}")
        tt = incremental._tombstone_table(t)
        parts.append(f"{key}_tomb={snapshot.current_version(tt)}")
    return ";".join(parts)


def maintain_release_verdicts(spark: SparkSession, root: str) -> int:
    """Materialize the gate-verdict partials (VERDICT r11 #4): one
    full model-rescore pass (:func:`release_scores`) written as a
    doc_id-clustered snapshot keyed by the CURRENT store-state
    signature. Until the next committed drop/takedown, every
    :func:`release_read_cached` prices doc-level (verdict + attrs
    rows) instead of re-paying the postings-pass-sized rescore —
    the production read pattern, where a training run enumerates the
    release many times between corpus changes. Full-overwrite commit
    (the fresh signature invalidates every older row at once)."""
    sig = _release_state_sig(root)
    s = stores(root)
    parts = _score_parts(spark, root)
    llr, prior = lm.nb_model_from_parts(parts["lab"], parts["occ_nb"])
    llr = llr.localCheckpoint(eager=True)
    prior = prior.localCheckpoint(eager=True)
    logp = lm.lm_model_from_parts(
        parts["occ_lm"], parts["vocab"]
    ).localCheckpoint(eager=True)
    nb = lm.nb_apply(parts["lab"], parts["occ_nb"], llr, prior).select(
        "doc_id", "log_odds_q"
    )
    ppl = lm.nll_apply(
        parts["attrs"].select("doc_id"), parts["occ_lm"], logp
    ).select("doc_id", "n_bigrams", "nll_q")
    rows = nb.join(ppl, "doc_id").withColumn(
        "sig", F.lit(sig)
    ).localCheckpoint(eager=True)
    # pinned models (r13, VERDICT r12 #5): the SAME quantized model
    # tables the verdicts were scored under, persisted so a
    # drift-gated read can score a later drop against them without a
    # corpus pass; drift_ref pins the drift store's version at
    # maintain time (the PSI reference).
    dref = snapshot.current_version(s["drift"])
    nullc = F.lit(None).cast("string")
    model_rows = (
        llr.select(
            F.lit("nb_llr").alias("kind"), F.col("token"),
            nullc.alias("w1"), nullc.alias("w2"),
            F.col("llr_q").cast("long").alias("q"),
        )
        .unionByName(prior.select(
            F.lit("nb_prior").alias("kind"), nullc.alias("token"),
            nullc.alias("w1"), nullc.alias("w2"),
            F.col("prior_q").cast("long").alias("q"),
        ))
        .unionByName(logp.select(
            F.lit("lm_logp").alias("kind"), nullc.alias("token"),
            F.col("w1"), F.col("w2"),
            F.col("logp_q").cast("long").alias("q"),
        ))
        .unionByName(spark.createDataFrame(
            [("drift_ref", None, None, None,
              -1 if dref is None else int(dref))],
            "kind string, token string, w1 string, w2 string, q long",
        ))
        .withColumn("sig", F.lit(sig))
    )
    snapshot.write_snapshot(model_rows, s["models"])
    return snapshot.write_snapshot(rows, s["verdicts"], stats_col="doc_id")


def release_read_cached(
    spark: SparkSession,
    root: str,
    *,
    strata_rates: dict[str, float],
    default_rate: float = 0.2,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
    maintain: bool = True,
) -> DataFrame:
    """Drop-priced release read (r12, VERDICT r11 #4): if the verdict
    store's signature matches the current store state — nothing
    committed since the last :func:`maintain_release_verdicts` — the
    model scores come from the store (one doc-level read) and the
    postings-pass rescore is skipped entirely; the integer-count
    models cannot have moved, so the result is BIT-equal to
    :func:`release_read` (pytest pins both regimes). On any committed
    change the models may shift globally (smoothing denominators are
    corpus totals), so the read falls back to the full rescore — and
    with ``maintain=True`` re-materializes the verdicts so the NEXT
    read is cheap again (maintenance amortizes to once per corpus
    change, reads in between are doc-priced)."""
    s = stores(root)
    sig = _release_state_sig(root)
    if snapshot.current_version(s["verdicts"]) is not None:
        cached = snapshot.read_snapshot(spark, s["verdicts"])
        sigs = [
            r["sig"]
            for r in cached.select("sig").distinct().limit(2).collect()
        ]
        if sigs == [sig]:
            return _read_from_scores(
                spark, root,
                cached.select(
                    "doc_id", "log_odds_q", "n_bigrams", "nll_q"
                ),
                strata_rates=strata_rates, default_rate=default_rate,
                min_quality=min_quality, min_tokens=min_tokens,
            )
    if maintain:
        maintain_release_verdicts(spark, root)
        cached = snapshot.read_snapshot(spark, s["verdicts"])
        return _read_from_scores(
            spark, root,
            cached.select("doc_id", "log_odds_q", "n_bigrams", "nll_q"),
            strata_rates=strata_rates, default_rate=default_rate,
            min_quality=min_quality, min_tokens=min_tokens,
        )
    return release_read(
        spark, root,
        strata_rates=strata_rates, default_rate=default_rate,
        min_quality=min_quality, min_tokens=min_tokens,
    )


def _parse_sig(sig: str) -> dict[str, str]:
    """The store-state signature, parsed back to its version fields —
    the drift-gated read compares old/new field-by-field to decide
    eligibility (drops only vs takedowns)."""
    return dict(p.split("=", 1) for p in sig.split(";"))


def release_read_drift_gated(
    spark: SparkSession,
    root: str,
    *,
    psi_threshold: float = 0.25,
    strata_rates: dict[str, float],
    default_rate: float = 0.2,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
) -> DataFrame:
    """BOUNDED-STALENESS release read (r13, VERDICT r12 #5): price a
    small content drop drop-sized instead of re-paying the full
    corpus rescore :func:`release_read_cached` falls back to on ANY
    committed change.

    Decision ladder (each step falls through to the always-correct
    cached/full path):

    1. signature unchanged → cached verdicts, bit-equal to the full
       rescore (the r12 exact path).
    2. content DROPS only since the last maintain (every tombstone
       version unchanged — a takedown always rescores: survivor-
       derived models must shift) AND the pinned models exist for the
       verdict store's signature.
    3. PSI drift gate: the maintained token-mass histogram partials
       (:func:`ingest_release`) price "are the arrivals distributed
       like the pinned corpus?" as a model-sized subtraction
       (``incremental.drift_from_store`` against the maintain-time
       pinned version). PSI ≥ ``psi_threshold`` trips to the full
       rescore (result then bit-equal to :func:`release_read` —
       pytest).
    4. gate passes → REUSE every cached per-doc verdict and score
       ONLY the new drops' docs against the PINNED models (one
       drop-sized pass over the appended postings files joined to the
       persisted model tables).

    Staleness contract (explicit): under the gate, every doc — old
    and new — is scored as if the models were still the maintain-time
    ones. Tokens/bigrams the pinned vocabulary has never seen
    contribute ZERO evidence for new docs (``lm.nb_apply`` /
    ``lm.nll_apply`` inner joins; unseen bigrams drop from both
    ``nll_q`` and ``n_bigrams``), and old docs' verdicts do not react
    to the new drop's mass. The perplexity corpus mean IS re-derived
    over the combined per-doc scores (doc-level work). Exactness
    recovers at the next :func:`maintain_release_verdicts` (or any
    read after a gate trip); the PSI threshold bounds how far the
    served release can drift from the exact one between maintains."""
    s = stores(root)
    sig = _release_state_sig(root)

    def _full() -> DataFrame:
        return release_read_cached(
            spark, root,
            strata_rates=strata_rates, default_rate=default_rate,
            min_quality=min_quality, min_tokens=min_tokens,
        )

    if snapshot.current_version(s["verdicts"]) is None:
        return _full()
    cached = snapshot.read_snapshot(spark, s["verdicts"])
    sigs = [
        r["sig"]
        for r in cached.select("sig").distinct().limit(2).collect()
    ]
    if len(sigs) != 1:
        return _full()
    cached_scores = cached.select(
        "doc_id", "log_odds_q", "n_bigrams", "nll_q"
    )
    if sigs == [sig]:  # nothing committed — the exact cached path
        return _read_from_scores(
            spark, root, cached_scores,
            strata_rates=strata_rates, default_rate=default_rate,
            min_quality=min_quality, min_tokens=min_tokens,
        )
    old_f, cur_f = _parse_sig(sigs[0]), _parse_sig(sig)
    if any(
        old_f.get(f"{k}_tomb") != cur_f.get(f"{k}_tomb")
        for k in ("attrs", "unigram", "bigram")
    ):
        return _full()  # takedown → corpus-trained models must shift
    if snapshot.current_version(s["models"]) is None:
        return _full()
    models = snapshot.read_snapshot(spark, s["models"]).filter(
        F.col("sig") == sigs[0]
    ).localCheckpoint(eager=True)
    ref_rows = models.filter(F.col("kind") == "drift_ref").select(
        "q"
    ).collect()
    if len(ref_rows) != 1 or int(ref_rows[0]["q"]) < 0:
        return _full()
    try:
        psi_rows = incremental.drift_from_store(
            spark, s["drift"], int(ref_rows[0]["q"])
        ).collect()
    except Exception:
        return _full()  # pinned drift version vacuumed
    if any(float(r["psi"]) >= psi_threshold for r in psi_rows):
        return _full()  # the gate trips — pay the exact rescore
    # drop-priced hybrid: appended store rows only, pinned models
    try:
        old_av = int(old_f["attrs"])
        old_uv = int(old_f["unigram"])
        old_bv = int(old_f["bigram"])
    except (KeyError, ValueError):
        return _full()
    new_attrs = snapshot.appended_rows(spark, s["attrs"], old_av)
    new_post = snapshot.appended_rows(spark, s["unigram"], old_uv)
    new_big = snapshot.appended_rows(spark, s["bigram"], old_bv)
    if new_attrs is None or new_post is None or new_big is None:
        return _full()  # compaction/vacuum broke the diff
    new_lab = (
        new_attrs.filter(F.col("doc_id").isNotNull())
        .dropDuplicates(["doc_id"])
        .select("doc_id", F.col("gopher_pass").alias("pass"))
        .localCheckpoint(eager=True)
    )
    ids = new_lab.select("doc_id")
    occ_nb = (
        new_post.filter(
            F.col("token").isNotNull() & F.col("doc_id").isNotNull()
        )
        .dropDuplicates(["doc_id", "token"])
        .join(ids, "doc_id", "semi")
        .select("doc_id", "token", "tf")
    )
    occ_lm = (
        new_big.filter(
            F.col("doc_id").isNotNull() & F.col("w1").isNotNull()
        )
        .dropDuplicates(["doc_id", "w1", "w2"])
        .join(ids, "doc_id", "semi")
        .select("doc_id", "w1", "w2", F.col("c12").alias("tf"))
    )
    llr = models.filter(F.col("kind") == "nb_llr").select(
        "token", F.col("q").alias("llr_q")
    )
    prior = models.filter(F.col("kind") == "nb_prior").select(
        F.col("q").alias("prior_q")
    )
    logp = models.filter(F.col("kind") == "lm_logp").select(
        "w1", "w2", F.col("q").alias("logp_q")
    )
    nb_new = lm.nb_apply(new_lab, occ_nb, llr, prior).select(
        "doc_id", "log_odds_q"
    )
    ppl_new = lm.nll_apply(ids, occ_lm, logp).select(
        "doc_id", "n_bigrams", "nll_q"
    )
    scores = cached_scores.unionByName(nb_new.join(ppl_new, "doc_id"))
    return _read_from_scores(
        spark, root, scores,
        strata_rates=strata_rates, default_rate=default_rate,
        min_quality=min_quality, min_tokens=min_tokens,
    )


def publish_release(
    spark: SparkSession,
    root: str,
    *,
    strata_rates: dict[str, float],
    default_rate: float = 0.2,
    min_quality: float = MIN_QUALITY,
    min_tokens: int = MIN_TOKENS,
) -> int:
    """Materialize the current :func:`release_read` as a NEW
    full-overwrite version of the release table — the corpus listing
    a training run pins. Old versions stay readable (MVCC time
    travel), so :func:`release_cdc` can label what any drop or
    takedown changed."""
    s = stores(root)
    df = release_read(
        spark, root,
        strata_rates=strata_rates, default_rate=default_rate,
        min_quality=min_quality, min_tokens=min_tokens,
    ).localCheckpoint(eager=True)
    return snapshot.write_snapshot(df, s["release"])


def release_cdc(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> DataFrame:
    """Labeled corpus diff between two published releases: which docs
    entered (``in``) and left (``out``) the training corpus between
    the pinned versions — EXCEPT-ALL over the two stored listings
    (two store reads; no recompute). A doc whose attributes changed
    split/score shows up as out+in, the standard CDC convention."""
    s = stores(root)
    a = snapshot.read_snapshot(spark, s["release"], v_from)
    b = snapshot.read_snapshot(spark, s["release"], v_to)
    cols = a.columns
    return (
        b.exceptAll(a).withColumn("change", F.lit("in"))
        .unionByName(
            a.exceptAll(b).withColumn("change", F.lit("out"))
        )
        .select("change", *cols)
    )
