"""Corpus / text-pipeline queries/oracles (driver-contract surface).

Text extraction and stats, language id, scrubbing, quality verdicts, n-gram
LM scoring, packing/BPE, host curation, URL canonicalization, C4 line
filtering, image metadata, classifier scoring, selection (top-fraction,
token-budget, perplexity buckets), sampling/splits, and the composed curation
pipeline. Paired DuckDB oracles follow each query, and the CASES table at the
end registers each pair; see plans/registry.py for the conventions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.functions.scrub import scrub_text
from cloud_data_quality_spark.operators.quality_filter import (
    annotate_quality_arrow,
)
from cloud_data_quality_spark.plans import oracle_fragments as OF
from cloud_data_quality_spark.plans.base import Case, _t

# --------------------------------------------------------------------------
# Web-text analysis queries (documents table)
# --------------------------------------------------------------------------

# html wrapper used by the extraction round-trip query — one constant, both
# engines (the pages GENERATOR uses a richer wrapper; this one exercises the
# same strip classes: head block, body script, comment, tags)
_HTML_PREFIX = ("<html><head><title>t</title><script>var x=1;</script>"
                "<style>p{margin:0}</style></head><body><!-- c --><p>")
_HTML_SUFFIX = "</p><script>track()</script></body></html>"


def q_extract_text_roundtrip(spark, sf_dir):
    """North-rule invariant: byte-identical extracted text per row. Builds
    html BYTES from documents.text (entity-escape + wrap + utf-8 encode),
    runs the real extraction operator (functions/html_extract.extract_text,
    a pure JVM Column expression), and returns the extracted text plus the
    identity flag. The oracle replays escape→wrap→extract with DuckDB's
    RE2 engine from the same generated constants — two independent regex
    engines agreeing on every byte."""
    from cloud_data_quality_spark.functions.html_extract import (
        escape_text,
        extract_text,
    )
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    html = F.encode(F.concat(F.lit(_HTML_PREFIX), escape_text(F.col("text")),
                             F.lit(_HTML_SUFFIX)), "UTF-8")
    return (d.withColumn("extracted", extract_text(html))
            .select("doc_id", "extracted",
                    (F.col("extracted") == F.col("text"))
                    .alias("matches_roundtrip")))


def _oracle_extract_text_roundtrip() -> str:
    pre = _HTML_PREFIX.replace("'", "''")
    suf = _HTML_SUFFIX.replace("'", "''")
    h = f"'{pre}' || {OF.sql_escape_text('text')} || '{suf}'"
    return f"""
with d as (select doc_id, text, {OF.sql_extract_text(h)} as extracted
           from documents where text is not null)
select doc_id, extracted, (extracted = text) as matches_roundtrip from d
"""


def q_text_stats(spark, sf_dir):
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.word_count(t).alias("n_words"),
        TX.char_count(t).alias("n_chars"),
        F.round(TX.mean_word_length(t), 6).alias("mean_word_len"),
        F.round(TX.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(TX.alpha_ratio(t), 6).alias("alpha_ratio"),
        F.round(TX.duplicate_token_fraction(t), 6).alias("dup_token_frac"),
    )


ORACLE_TEXT_STATS = f"""
select doc_id,
       {OF.sql_word_count('text')} as n_words,
       {OF.sql_char_count('text')} as n_chars,
       round({OF.sql_mean_word_len('text')}, 6) as mean_word_len,
       round({OF.sql_stopword_ratio('text')}, 6) as stopword_ratio,
       round({OF.sql_alpha_ratio('text')}, 6) as alpha_ratio,
       round({OF.sql_dup_token_frac('text')}, 6) as dup_token_frac
from documents
"""


def q_text_langid(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", TX.langid(F.col("text")).alias("lang_pred"))


ORACLE_TEXT_LANGID = f"""
select doc_id, {OF.sql_langid('text')} as lang_pred from documents
"""


def q_text_fingerprint(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp"))


ORACLE_TEXT_FINGERPRINT = f"""
select doc_id, {OF.sql_fingerprint('text')} as fp from documents
"""


def q_pii_scrub(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", scrub_text(F.col("text")).alias("scrubbed_text"))


ORACLE_PII_SCRUB = f"""
select doc_id, {OF.sql_scrub('text')} as scrubbed_text from documents
"""


def q_quality_verdict(spark, sf_dir):
    ann = annotate_quality_arrow(_t(spark, sf_dir, "documents"),
                                 text_col="text", with_perplexity=False)
    return ann.select("doc_id", "lang_pred", "keep", "drop_reason")


def _verdict_feat_and_gates() -> tuple[str, dict[str, str], str]:
    """Shared feature CTE + coalesced gate SQL + drop_reason expression —
    one spelling consumed by the verdict, rollup and attribution oracles."""
    from cloud_data_quality_spark.operators.quality_filter import QualityThresholds
    t = QualityThresholds()
    feat = f"""
select doc_id,
  {OF.sql_langid('text')} as lang_pred,
  {OF.sql_char_count('text')} as n_chars,
  {OF.sql_word_count('text')} as n_words,
  {OF.sql_mean_word_len('text')} as mean_word_len,
  {OF.sql_alpha_ratio('text')} as alpha_ratio,
  {OF.sql_cjk_ratio('text')} as cjk_ratio,
  {OF.sql_dup_token_frac('text')} as dup_token_frac,
  {OF.sql_dup_line_frac('text')} as dup_line_frac,
  coalesce(regexp_matches(text, '\\b(badword1|badword2|slur1)\\b'), false)
    as has_toxicity
from documents"""
    gates = {
        "words": (f"case when lang_pred = 'zh' "
                  f"then n_chars between {t.min_words * 2} and {t.max_words * 8} "
                  f"else n_words between {t.min_words} and {t.max_words} end"),
        "word_len": (f"(lang_pred = 'zh' or mean_word_len between "
                     f"{t.min_mean_word_len} and {t.max_mean_word_len})"),
        "alpha": (f"case when lang_pred = 'zh' then cjk_ratio >= {t.min_cjk_ratio} "
                  f"else alpha_ratio >= {t.min_alpha_ratio} end"),
        "repetition": (f"(dup_line_frac <= {t.max_dup_line_frac} and "
                       f"dup_token_frac <= {t.max_dup_token_frac})"),
        "lang": "lang_pred != 'und'",
        "toxicity": "not has_toxicity",
    }
    coalesced = {k: f"coalesce({v}, false)" for k, v in gates.items()}
    reason = "case " + " ".join(
        f"when not {coalesced[k]} then '{k}'" for k in coalesced
    ) + " else NULL end"
    return feat, coalesced, reason


def _oracle_quality_verdict() -> str:
    feat, coalesced, reason = _verdict_feat_and_gates()
    keep = " and ".join(coalesced.values())
    return (f"with f as ({feat}) "
            f"select doc_id, lang_pred, ({keep}) as keep, {reason} as drop_reason "
            f"from f")


def q_rule_attribution(spark, sf_dir):
    """Per-gate marginal analytics (quality_filter.rule_attribution): one
    agg pass + stack melt — n_failing / n_first_fail (drop_reason) /
    n_unique_fail (the docs a rule removal would recover) per rule."""
    from cloud_data_quality_spark.operators.quality_filter import (
        rule_attribution)
    return rule_attribution(_t(spark, sf_dir, "documents"),
                            text_col="text")


def _oracle_rule_attribution() -> str:
    feat, coalesced, reason = _verdict_feat_and_gates()
    fails = " + ".join(
        f"(case when not {c} then 1 else 0 end)" for c in coalesced.values())
    legs = []
    for name, c in coalesced.items():
        legs.append(
            f"select '{name}' as rule, "
            f"count(*) filter (where not {c})::BIGINT as n_failing, "
            f"count(*) filter (where drop_reason = '{name}')::BIGINT "
            f"as n_first_fail, "
            f"count(*) filter (where not {c} and fails = 1)::BIGINT "
            f"as n_unique_fail, "
            f"count(*)::BIGINT as n_docs from g")
    union = " union all ".join(legs)
    return (f"with f as ({feat}), "
            f"g as (select *, {reason} as drop_reason, ({fails}) as fails "
            f"from f) {union}")


def q_quality_rollup(spark, sf_dir):
    ann = annotate_quality_arrow(_t(spark, sf_dir, "documents"),
                                 text_col="text", with_perplexity=False)
    return (ann.groupBy("lang_pred", "keep", "drop_reason")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def _oracle_quality_rollup() -> str:
    return (f"with v as ({_oracle_quality_verdict()}) "
            f"select lang_pred, keep, drop_reason, count(*)::BIGINT as n_docs "
            f"from v group by 1, 2, 3")


def q_token_count_by_source(spark, sf_dir):
    t = F.col("text")
    return (_t(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(F.sum(TX.word_count(t)).alias("total_words"),
                 F.count(F.lit(1)).alias("n_docs")))


ORACLE_TOKEN_COUNT_BY_SOURCE = f"""
select source, sum({OF.sql_word_count('text')})::BIGINT as total_words,
       count(*)::BIGINT as n_docs
from documents group by source
"""


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram negative mean log-prob per doc (KenLM-style scoring
    with the corpus itself as the model — two passes, both distributed).

    Scale posture: the token TOTAL comes from summing the freq table (one
    tiny agg over the vocab) rather than a third full tokenize+count pass,
    attached as a broadcast scalar cross-join. The freq table itself is NOT
    hint-broadcast — at web scale distinct tokens are 10^8+ and a forced
    broadcast OOMs; AQE picks broadcast when it actually fits. For bounded
    executor memory use q_unigram_logprob_topk."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id",
                       F.explode(TX.tokens(F.col("text"))).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("__total"))
    scored = (toks.join(freq, "w")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.round(F.avg(-F.log(F.col("c") / F.col("__total"))), 4)
                   .alias("nll")))
    return scored


ORACLE_UNIGRAM_LOGPROB = f"""
with toks as (
  select doc_id, unnest({OF.sql_tokens('text')}) as w from documents),
freq as (select w, count(*) c from toks group by w),
total as (select count(*) n from toks)
select doc_id, round(avg(-ln(c::DOUBLE / (select n from total))), 4) as nll
from toks join freq using (w)
group by doc_id
"""

_UNIGRAM_TOPK = 500


def q_unigram_logprob_topk(spark, sf_dir):
    """Bounded-memory variant: model = top-K vocabulary (deterministic
    tie-break on the token) + OOV floor count of 1. The K-row model is the
    ONLY thing broadcast — executor memory stays O(K) no matter how large
    the corpus vocabulary grows; orderBy().limit(K) is a per-partition
    top-K then single small reduce, not a global sort."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id",
                       F.explode(TX.tokens(F.col("text"))).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("__total"))
    topk = freq.orderBy(F.col("c").desc(), F.col("w")).limit(_UNIGRAM_TOPK)
    scored = (toks.join(F.broadcast(topk), "w", "left")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.round(F.avg(-F.log(F.coalesce(F.col("c"), F.lit(1))
                                        / F.col("__total"))), 4)
                   .alias("nll")))
    return scored


ORACLE_UNIGRAM_LOGPROB_TOPK = f"""
with toks as (
  select doc_id, unnest({OF.sql_tokens('text')}) as w from documents),
freq as (select w, count(*) c from toks group by w),
total as (select count(*) n from toks),
topk as (select w, c from freq order by c desc, w limit {_UNIGRAM_TOPK})
select doc_id,
       round(avg(-ln(coalesce(t.c, 1)::DOUBLE / (select n from total))), 4)
         as nll
from toks left join topk t using (w)
group by doc_id
"""


_TRI_VOCAB = 500
_TRI_ALPHA = 0.4
_TRI_PRUNE = 2


def q_trigram_logprob(spark, sf_dir):
    """Stupid-backoff word-trigram NLL per document (CCNet-faithful n-gram
    LM scoring — functions/ngram_lm.trigram_backoff_logprob): top-V vocab
    with <unk> mapping, singleton-pruned trigram/bigram tables, backoff
    penalty alpha per level. The model is trained on the corpus inside the
    same job; every count and division replays exactly in DuckDB."""
    from cloud_data_quality_spark.functions.ngram_lm import (
        trigram_backoff_logprob)
    return trigram_backoff_logprob(
        _t(spark, sf_dir, "documents"), text_col="text", id_col="doc_id",
        vocab_size=_TRI_VOCAB, alpha=_TRI_ALPHA, prune_below=_TRI_PRUNE)


ORACLE_TRIGRAM_LOGPROB = f"""
with s0 as (select doc_id, {OF.sql_tokens('text')} as words from documents),
toks as (select doc_id, g.i - 1 as pos, words[g.i] as w_raw
         from s0 cross join unnest(generate_series(1, len(words))) as g(i)),
freq as (select w_raw, count(*) c from toks group by w_raw),
vocab as (select w_raw from freq order by c desc, w_raw limit {_TRI_VOCAB}),
mapped as (select doc_id, pos,
                  case when w_raw in (select w_raw from vocab) then w_raw
                       else '<unk>' end as w
           from toks),
adj as (select doc_id, pos, w as w1,
               lead(w, 1) over (partition by doc_id order by pos) as w2,
               lead(w, 2) over (partition by doc_id order by pos) as w3
        from mapped),
tri as (select * from adj where w3 is not null),
bi as (select w1 as b1, w2 as b2, count(*) cb
       from adj where w2 is not null group by 1, 2),
uni as (select w as u, count(*) cu from mapped group by 1),
ctri as (select w1 t1, w2 t2, w3 t3, count(*) ct from tri group by 1, 2, 3),
ntot as (select count(*)::DOUBLE n from mapped),
scored as (
  select tri.doc_id,
         case when ct.ct is not null
              then ct.ct::DOUBLE / cb_ctx.cb
              when bp.cb is not null
              then {_TRI_ALPHA} * (bp.cb::DOUBLE / u2.cu)
              else {_TRI_ALPHA} * {_TRI_ALPHA}
                   * (u3.cu::DOUBLE / (select n from ntot))
         end as s
  from tri
  left join (select * from ctri where ct >= {_TRI_PRUNE}) ct
    on tri.w1 = ct.t1 and tri.w2 = ct.t2 and tri.w3 = ct.t3
  left join bi cb_ctx on tri.w1 = cb_ctx.b1 and tri.w2 = cb_ctx.b2
  left join (select * from bi where cb >= {_TRI_PRUNE}) bp
    on tri.w2 = bp.b1 and tri.w3 = bp.b2
  left join uni u2 on tri.w2 = u2.u
  left join uni u3 on tri.w3 = u3.u)
select doc_id, round(avg(-ln(s)), 4) as nll, count(*)::BIGINT as n_trigrams
from scored group by doc_id
"""

_PACK_BUDGET, _PACK_BUCKETS = 256, 8


def q_pack_documents(spark, sf_dir, tokenizer: str = "words"):
    """Sequence packing (greedy token-budget packing within md5 hash
    buckets) — the training-data operator downstream of dedup + quality
    filter. Deterministic: bucket and in-bucket order are pure functions of
    the data, so the DuckDB oracle replays the greedy fold exactly with a
    recursive CTE."""
    from cloud_data_quality_spark.functions.packing import pack_documents
    return pack_documents(_t(spark, sf_dir, "documents"),
                          budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS,
                          tokenizer=tokenizer) \
        .select("doc_id", "pack_id",
                F.col("pack_seq").cast("int").alias("pack_seq"),
                F.col("pack_pos").cast("int").alias("pack_pos"),
                F.col("n_tokens").cast("bigint").alias("n_tokens"))


def q_pack_documents_bpe(spark, sf_dir):
    """Sequence packing measured in SUBWORD (BPE) tokens — what a real
    training pipeline budgets by. The merge-table artifact is embedded in
    functions/bpe_artifact.py and replayed verbatim by the DuckDB oracle
    (a chain of replace() calls over a sentinel encoding)."""
    return q_pack_documents(spark, sf_dir, tokenizer="bpe")


def _oracle_pack(tok_expr: str) -> str:
    """The recursive-CTE greedy-pack replay, parameterized over the
    token-count expression (whitespace words or BPE subwords)."""
    return f"""
with recursive d as (
  select doc_id,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
          % {_PACK_BUCKETS})::INT as bucket,
         {tok_expr} as tok
  from documents where text is not null),
ordered as (
  select doc_id, bucket, tok,
         row_number() over (partition by bucket order by doc_id) as rn
  from d),
packed as (
  select bucket, rn, doc_id, tok, tok as acc, 0 as pack_seq, 0 as pack_pos
  from ordered where rn = 1
  union all
  select o.bucket, o.rn, o.doc_id, o.tok,
         case when p.acc + o.tok > {_PACK_BUDGET} then o.tok
              else p.acc + o.tok end,
         case when p.acc + o.tok > {_PACK_BUDGET} then p.pack_seq + 1
              else p.pack_seq end,
         case when p.acc + o.tok > {_PACK_BUDGET} then 0
              else p.pack_pos + 1 end
  from packed p join ordered o on o.bucket = p.bucket and o.rn = p.rn + 1)
select doc_id, bucket::VARCHAR || '-' || pack_seq::VARCHAR as pack_id,
       pack_seq::INT as pack_seq, pack_pos::INT as pack_pos,
       tok::BIGINT as n_tokens
from packed
"""


ORACLE_PACK_DOCUMENTS = _oracle_pack(OF.sql_word_count("text"))
ORACLE_PACK_DOCUMENTS_BPE = _oracle_pack(OF.sql_bpe_token_count("text"))


def q_pack_documents_bpe_1k(spark, sf_dir):
    """Sequence packing budgeted by the PRODUCTION-SIZE tokenizer: the
    1024-merge artifact (functions/bpe_large_artifact). Spark side runs the
    Arrow memoized encoder (a 1024-deep nested replace chain would blow up
    whole-stage codegen); the oracle replays the same table as a flat
    step-joined recursive CTE (no nesting — DuckDB's expression-depth limit
    never engages)."""
    return q_pack_documents(spark, sf_dir, tokenizer="bpe_large")


def _oracle_pack_bpe_large() -> str:
    from cloud_data_quality_spark.functions.bpe_large_artifact import (
        BPE_MERGES_LARGE,
    )
    return _oracle_pack_bpe_grouped(BPE_MERGES_LARGE)


def _oracle_pack_bpe_grouped(merges: list[tuple[str, str]],
                             group: int = 16) -> str:
    """Greedy-pack oracle with token counts from an arbitrary merge table:
    distinct words are sentinel-encoded once, then the merge chain applies
    as a recursive CTE joined to a merge-GROUP table by step index — each
    recursion round applies `group` consecutive merges as one nested
    replace chain (in table order, so semantics are identical to the flat
    one-merge-per-round replay; a flat 8192-round recursion costs ~13 min
    in DuckDB at sf0.01, the 16-grouped one rounds/rows are 16× fewer).
    Short final groups pad with a never-matching pattern (chr(3)chr(3):
    the sentinel encoding makes \\x03\\x03 impossible — symbols contain no
    sentinels). Per-doc counts come back through a join on the stripped
    word."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    def pat(a: str, b: str) -> str:
        return f"chr(2)||'{q(a)}'||chr(3)||chr(2)||'{q(b)}'||chr(3)"

    def rep(a: str, b: str) -> str:
        return f"chr(2)||'{q(a + b)}'||chr(3)"

    n_groups = (len(merges) + group - 1) // group
    cols = ", ".join(f"p{j}, r{j}" for j in range(group))
    rows = []
    for g in range(n_groups):
        chunk = merges[g * group:(g + 1) * group]
        vals = []
        for a, b in chunk:
            vals.append(pat(a, b))
            vals.append(rep(a, b))
        for _ in range(group - len(chunk)):      # pad short final group
            vals.append("chr(3)||chr(3)")
            vals.append("''")
        rows.append(f"({g + 1}, {', '.join(vals)})")
    values = ",\n".join(rows)
    s_expr = "e.s"
    for j in range(group):
        s_expr = f"replace({s_expr}, m.p{j}, m.r{j})"
    return f"""
with recursive
dw_raw as (select doc_id, unnest({OF.sql_tokens('text')}) as w
           from documents where text is not null),
dw as (select doc_id,
              replace(replace(w, chr(2), ''), chr(3), '') as w from dw_raw),
words as (select distinct w from dw),
merges(step, {cols}) as (select * from (values
{values}
) t(step, {cols})),
enc as (
  select w, 0 as step,
         array_to_string(list_transform(range(1, length(w) + 1),
           i -> chr(2) || substr(w, i, 1) || chr(3)), '') as s
  from words
  union all
  select e.w, e.step + 1, {s_expr}
  from enc e join merges m on m.step = e.step + 1),
wtok as (select w, (length(s) - length(replace(s, chr(2), '')))::BIGINT as n
         from enc where step = {n_groups}),
dt as (select dw.doc_id, sum(wtok.n)::BIGINT as tok
       from dw join wtok using (w) group by dw.doc_id),
d as (select documents.doc_id,
         (('0x' || substr(md5(documents.doc_id::VARCHAR), 1, 15))::BIGINT
          % {_PACK_BUCKETS})::INT as bucket,
         coalesce(dt.tok, 0) as tok
      from documents left join dt using (doc_id) where text is not null),
ordered as (
  select doc_id, bucket, tok,
         row_number() over (partition by bucket order by doc_id) as rn
  from d),
packed as (
  select bucket, rn, doc_id, tok, tok as acc, 0 as pack_seq, 0 as pack_pos
  from ordered where rn = 1
  union all
  select o.bucket, o.rn, o.doc_id, o.tok,
         case when p.acc + o.tok > {_PACK_BUDGET} then o.tok
              else p.acc + o.tok end,
         case when p.acc + o.tok > {_PACK_BUDGET} then p.pack_seq + 1
              else p.pack_seq end,
         case when p.acc + o.tok > {_PACK_BUDGET} then 0
              else p.pack_pos + 1 end
  from packed p join ordered o on o.bucket = p.bucket and o.rn = p.rn + 1)
select doc_id, bucket::VARCHAR || '-' || pack_seq::VARCHAR as pack_id,
       pack_seq::INT as pack_seq, pack_pos::INT as pack_pos,
       tok::BIGINT as n_tokens
from packed
"""


ORACLE_PACK_DOCUMENTS_BPE_1K = _oracle_pack_bpe_large()


# ------------------------------------------------------- host curation ops

_HOST_BLOCKLIST = ["src1.example.com", "ads.src2.example.com"]
_HOST_CAP = 25
#: deterministic URL synthesized from documents columns — doc_id % 7 == 0
#: rows get an `ads.` subdomain so the SUFFIX semantics of the blocklist
#: (src1.example.com must also block ads.src1.example.com) are exercised.
_HOST_URL_SQL = ("'https://' || case when doc_id % 7 = 0 then 'ads.' "
                 "else '' end || source || '.example.com/d/' || doc_id")


def q_host_capped_sample(spark, sf_dir):
    """Host blocklist (suffix semantics, broadcast anti-joins) + per-host
    document cap (bounded-key rank) over deterministic URLs synthesized
    from the documents table — the C4 §2.1 / RefinedWeb §3.1 curation step."""
    from cloud_data_quality_spark.functions.hosts import (
        cap_per_host,
        drop_blocklisted,
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_HOST_URL_SQL).alias("url"))
    kept = drop_blocklisted(docs, _HOST_BLOCKLIST, suffix_match=True)
    capped = cap_per_host(kept, _HOST_CAP, order_col="doc_id")
    return capped.select("doc_id", "host")


def _oracle_host_capped_sample() -> str:
    from cloud_data_quality_spark.functions.hosts import URL_HOST_PATTERN
    block = " or ".join(
        f"host = '{d}' or host like '%.{d}'" for d in _HOST_BLOCKLIST)
    return f"""
with u as (select doc_id, {_HOST_URL_SQL} as url from documents),
h as (select doc_id,
             lower(coalesce(regexp_extract(url, '{URL_HOST_PATTERN}', 1), ''))
               as host
      from u),
keep as (select * from h where not ({block})),
ranked as (select doc_id, host,
                  row_number() over (partition by host order by doc_id) as rn
           from keep)
select doc_id, host from ranked where rn <= {_HOST_CAP}
"""


_PIPE_MIN_WORDS = 20
_PIPE_HOST_CAP = 30


def q_curation_pipeline_docs(spark, sf_dir):
    """The COMPOSED resumable pipeline (engine/pipeline.py) end-to-end on
    the documents table: partition-stage word-count gate → global per-source
    cap → global exact dedup (canonical min doc_id per fingerprint). Every
    stage materializes + journals lineage; this query replays the full
    staged run and returns the survivor set the DuckDB oracle re-derives in
    one SQL chain — so the staging machinery itself is value-checked, not
    just the individual operators. A leading dedup-lines REWRITE stage
    (over doc_id-synthesized line structure) feeds the word-count gate, so
    a stage that mutates text — not just filters rows — is value-checked
    through the whole chain.

    An explicit fuse_with_previous mark on the cap stage means BOTH
    fusion paths — the partition-chain merge (lines+gate keep wave
    resume) and the marked global absorption with its persist barrier
    (…+cap) — are value-checked by this query's DuckDB oracle, not just
    unit tests: fusion must be a physical choice with zero semantic
    effect."""
    import shutil
    import uuid

    from cloud_data_quality_spark.engine.pipeline import (
        PipelineStage,
        ResumableCurationPipeline,
    )
    from cloud_data_quality_spark.functions.corpus import dedup_lines_col
    from cloud_data_quality_spark.functions.text import fingerprint, word_count
    from pyspark.sql.window import Window

    def lines(df):
        return df.withColumn("text", dedup_lines_col(F.col("text")))

    def gate(df):
        return df.where(word_count(F.col("text")) >= _PIPE_MIN_WORDS)

    def cap(df):
        w = Window.partitionBy("source").orderBy("doc_id")
        return (df.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") <= _PIPE_HOST_CAP).drop("__r"))

    def dedup(df):
        w = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
        return (df.withColumn("__r", F.row_number().over(w))
                .where("__r = 1").drop("__r"))

    work = f"/tmp/cdq_pipeline_{uuid.uuid4().hex}"
    pipe = ResumableCurationPipeline(spark, work, n_buckets=8,
                                     id_col="doc_id")
    src = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_DEDUP_LINES_TEXT_SQL).alias("text"))
    res = pipe.run(
        src,
        [PipelineStage("lines", lines, kind="partition"),
         PipelineStage("gate", gate, kind="partition"),
         PipelineStage("cap", cap, kind="global",
                       fuse_with_previous=True),
         PipelineStage("dedup", dedup, kind="global")],
        run_id="oracle")
    out = (spark.read.parquet(res.stages[-1].output_path)
           .select("doc_id", "source").localCheckpoint())
    shutil.rmtree(work, ignore_errors=True)
    return out


def _oracle_curation_pipeline() -> str:
    return f"""
with src as (select doc_id, source, {_DEDUP_LINES_TEXT_SQL} as text
             from documents),
arr as (select doc_id, source, text,
               string_split(text, chr(10)) as a from src),
lines as (select doc_id, source,
                 case when text is null then null
                      else array_to_string(list_filter(a,
                             (x, i) -> length(x) = 0
                                       or list_position(a, x) = i),
                           chr(10)) end as text
          from arr),
gate as (select doc_id, source, text from lines
              where {OF.sql_word_count('text')} >= {_PIPE_MIN_WORDS}),
cap as (select doc_id, source, text from (
          select *, row_number() over (partition by source
                                       order by doc_id) as rn from gate)
        where rn <= {_PIPE_HOST_CAP}),
dedup as (select doc_id, source from (
            select doc_id, source,
                   row_number() over (partition by {OF.sql_fingerprint('text')}
                                      order by doc_id) as rn from cap)
          where rn = 1)
select doc_id, source from dedup
"""


# deterministic multiline+punctuation synthesis over the word-soup docs so
# the C4 line heuristics have real structure to act on: '.'/'?' line breaks
# before common words, terminal '.', and doc-level '{'/'Lorem Ipsum'
# injections on id residues. chr(10) because a '\n' literal is an escape in
# Spark SQL but two characters in DuckDB.
_C4_SYNTH_SQL = (
    "replace(replace(text, ' table ', '.' || chr(10) || 'table '), "
    "' row ', '?' || chr(10) || 'row ') || '.'"
    " || case when doc_id % 13 = 0 then ' {' else '' end"
    " || case when doc_id % 17 = 0 then ' Lorem Ipsum' else '' end")
# every 7th doc uses CRLF line endings — pins the CR-normalization contract
# (Java '$' matches before a final '\r', RE2/DuckDB '$' does not)
_C4_SYNTH_SQL = (
    f"case when doc_id % 7 = 0 then "
    f"replace({_C4_SYNTH_SQL}, chr(10), chr(13) || chr(10)) "
    f"else {_C4_SYNTH_SQL} end")


def q_c4_line_filter(spark, sf_dir):
    """C4 §2.2 line-level cleaning (terminal punctuation, ≥5-word lines, no
    javascript; ≥3 surviving lines, no '{'/'lorem ipsum') as a pure Column
    plan over deterministically line-structured document text."""
    from cloud_data_quality_spark.functions.corpus import c4_line_filter
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_C4_SYNTH_SQL).alias("text"))
    return c4_line_filter(docs)


def _oracle_c4_line_filter() -> str:
    from cloud_data_quality_spark.functions.corpus import (
        C4_DOC_BLOCK_SUBSTRINGS,
        C4_LINE_BLOCK_SUBSTRING,
        C4_MIN_LINE_WORDS,
        C4_MIN_LINES_KEPT,
        C4_TERMINAL_PUNCT_RE,
    )
    line_ok = (
        f"regexp_matches(trim(x, ' '), '{C4_TERMINAL_PUNCT_RE}') "
        f"and len(list_filter(regexp_split_to_array(trim(x, ' '), "
        f"'[\\t\\x0b\\f\\r ]+'), w -> w != '')) >= {C4_MIN_LINE_WORDS} "
        f"and not contains(lower(trim(x, ' ')), '{C4_LINE_BLOCK_SUBSTRING}')")
    doc_block = " ".join(
        f"and not contains(lower(text), '{s}')"
        for s in C4_DOC_BLOCK_SUBSTRINGS)
    return f"""
with s as (select doc_id, {_C4_SYNTH_SQL} as text from documents),
l as (select doc_id, text,
             list_filter(string_split(
                 regexp_replace(text, '\\r\\n?', chr(10), 'g'), chr(10)),
                         x -> {line_ok}) as kept
      from s),
v as (select doc_id, kept,
             (len(kept) >= {C4_MIN_LINES_KEPT} {doc_block}) as keep
      from l)
select doc_id,
       case when keep then array_to_string(kept, chr(10)) end as clean_text,
       coalesce(len(kept), 0)::BIGINT as n_lines_kept,
       keep
from v
"""


#: mixed-case scheme/host, default port, tracking params, fragments — every
#: canonicalization rule exercised on deterministic synthesized URLs.
_CANON_URL_SQL = (
    "'HTTPS://' || upper(source) || '.Example.COM:443/path/' || doc_id"
    " || case when doc_id % 3 = 0 then '?utm_source=x&id=' || doc_id ||"
    " '&fbclid=z' else '?id=' || doc_id || '&page=2' end"
    # ref must drop (exact tracking name) while refund_id must SURVIVE —
    # pins the exact-vs-prefix matching contract cross-engine
    " || case when doc_id % 5 = 0 then '&ref=tw&refund_id=' || doc_id"
    " else '' end"
    " || case when doc_id % 4 = 0 then '#frag' else '' end")


def q_canonical_urls(spark, sf_dir):
    """URL canonicalization (lowercase scheme/host, strip default port,
    drop tracking params + fragment) — the identity-normalization step
    before exact URL dedup and per-host caps."""
    from cloud_data_quality_spark.functions.hosts import canonicalize_url
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_CANON_URL_SQL).alias("url"))
    return docs.select("doc_id",
                       canonicalize_url(F.col("url")).alias("canon_url"))


def _oracle_canonical_urls() -> str:
    from cloud_data_quality_spark.functions.hosts import (
        TRACKING_PARAM_PREFIXES,
        TRACKING_PARAMS_EXACT,
        URL_SPLIT_PATTERN,
    )
    exact = ", ".join(f"'{p}'" for p in TRACKING_PARAMS_EXACT)
    tracking = " or ".join(
        [f"lower(string_split(kv, '=')[1]) in ({exact})"]
        + [f"starts_with(lower(string_split(kv, '=')[1]), '{p}')"
           for p in TRACKING_PARAM_PREFIXES])
    return f"""
with u as (select doc_id, {_CANON_URL_SQL} as url from documents),
p as (select doc_id, url,
             lower(coalesce(regexp_extract(url, '{URL_SPLIT_PATTERN}', 1), ''))
               as scheme,
             lower(coalesce(regexp_extract(url, '{URL_SPLIT_PATTERN}', 2), ''))
               as rawhost,
             coalesce(regexp_extract(url, '{URL_SPLIT_PATTERN}', 3), '') as path,
             coalesce(regexp_extract(url, '{URL_SPLIT_PATTERN}', 4), '') as query
      from u),
h as (select *, case when scheme = 'http'
                     then regexp_replace(rawhost, ':80$', '')
                     when scheme = 'https'
                     then regexp_replace(rawhost, ':443$', '')
                     else rawhost end as host
      from p),
q as (select doc_id, url, scheme, host,
             case when length(path) = 0 then '/' else path end as path,
             array_to_string(
               list_filter(string_split(query, '&'),
                           kv -> length(kv) > 0 and not ({tracking})),
               '&') as qs
      from h)
select doc_id,
       case when length(scheme) > 0
            then scheme || '://' || host || path ||
                 case when length(qs) > 0 then '?' || qs else '' end
            else url end as canon_url
from q
"""


def _img_blob_hex_sql(hexfn: str) -> str:
    """Hex string of a synthesized image blob per doc_id — evaluated by
    BOTH engines (`hexfn` = 'hex' on Spark, 'to_hex' on DuckDB; unhex is
    case-insensitive so their case difference is immaterial). The layouts
    are byte-identical to multimodal.make_png/make_gif/make_jpeg, so the
    parser runs against real header bytes: PNG sig+IHDR (u32-BE dims at
    16/20, color type 6=RGBA), GIF89a logical screen (u16-LE dims at 6/8),
    JPEG SOI + JFIF APP0 (skipped by its declared length) + SOF0 (u16-BE
    height/width, 3 components). Every 11th doc is garbage bytes — the
    INVALID row, not an exception."""
    w = "((doc_id % 613) + 16)"
    h = "(((doc_id * 7) % 509) + 16)"
    wbe = f"lpad({hexfn}({w}), 4, '0')"
    hbe = f"lpad({hexfn}({h}), 4, '0')"
    wbe32 = f"lpad({hexfn}({w}), 8, '0')"
    hbe32 = f"lpad({hexfn}({h}), 8, '0')"
    wle = f"(substr({wbe}, 3, 2) || substr({wbe}, 1, 2))"
    hle = f"(substr({hbe}, 3, 2) || substr({hbe}, 1, 2))"
    png = (f"('89504e470d0a1a0a' || '0000000d' || '49484452' || {wbe32} "
           f"|| {hbe32} || '0806000000' || '00000000')")
    gif = f"('474946383961' || {wle} || {hle} || 'f70000')"
    jpeg = (f"('ffd8' || 'ffe000104a46494600010100000100010000' || "
            f"'ffc00011' || '08' || {hbe} || {wbe} || "
            f"'03012200021101031101' || 'ffd9')")
    return (f"case when doc_id % 11 = 0 then 'deadbeef' "
            f"when doc_id % 3 = 0 then {png} "
            f"when doc_id % 3 = 1 then {gif} "
            f"else {jpeg} end")


def q_image_metadata(spark, sf_dir):
    """Real image-header decode (multimodal.parse_image_header): blobs are
    synthesized JVM-side via unhex() from the shared hex fragment, then
    width/height/channels/format are parsed from the actual bytes in the
    mapInPandas header stage (no codec library). The oracle knows the dims it encoded, so any parser drift —
    endianness, offset, marker walk — value-mismatches."""
    from cloud_data_quality_spark.functions.multimodal import image_metadata
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"unhex({_img_blob_hex_sql('hex')})").alias("blob"))
    out = image_metadata(docs, blob_col="blob")
    # this DuckDB build hashes VARCHAR only, so byte-equality of the blob
    # is pinned via sha256 over its lowercase hex (the Python-side
    # content_sha256 over raw bytes is pytest-pinned instead)
    return out.select(
        "doc_id", F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "format",
        F.sha2(F.lower(F.hex(F.col("blob"))), 256).alias("blob_hex_sha256"))


def _oracle_image_metadata() -> str:
    """Dims/channels/format come straight from the synthesis arithmetic
    (the encoder's inputs); blob_hex_sha256 hashes the identical lowercase
    hex both sides — proving the two engines built (and the parser read)
    the same bytes. (sha256 over raw BLOB isn't available in this DuckDB
    build, hence hex-string hashing.)"""
    blob = _img_blob_hex_sql("to_hex")
    return f"""
select doc_id,
       (case when doc_id % 11 = 0 then null
             else (doc_id % 613) + 16 end)::INT as width,
       (case when doc_id % 11 = 0 then null
             else ((doc_id * 7) % 509) + 16 end)::INT as height,
       (case when doc_id % 11 = 0 then null
             when doc_id % 3 = 0 then 4 else 3 end)::INT as channels,
       case when doc_id % 11 = 0 then 'INVALID'
            when doc_id % 3 = 0 then 'PNG'
            when doc_id % 3 = 1 then 'GIF'
            else 'JPEG' end as format,
       sha256(lower({blob})) as blob_hex_sha256
from documents
"""


#: blank-line paragraph structure synthesized deterministically: paragraph
#: breaks before common words, and doc_id % 5 == 0 docs get the SAME
#: 40-char paragraph twice (an exact duplicate pair for the dup fractions).
_PARA_SYNTH_SQL = (
    "replace(text, ' value ', chr(10) || chr(10) || 'value ')"
    " || case when doc_id % 5 = 0 then"
    " chr(10) || chr(10) || substr(text, 1, 40)"
    " || chr(10) || chr(10) || substr(text, 1, 40) else '' end")


def q_paragraph_stats(spark, sf_dir):
    """Gopher paragraph-duplication fractions (pure Column, O(P²) in-doc
    occurrence counting, zero shuffle) over deterministically
    paragraph-structured document text."""
    from cloud_data_quality_spark.functions.corpus import paragraph_stats
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PARA_SYNTH_SQL).alias("text"))
    return paragraph_stats(docs)


def _oracle_paragraph_stats() -> str:
    from cloud_data_quality_spark.functions.corpus import _PARA_CONTENT_RE
    occ = "len(list_filter(paras, x -> x = p))"
    return f"""
with s as (select doc_id, {_PARA_SYNTH_SQL} as text from documents),
p as (select doc_id, text,
             list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                         p -> regexp_matches(p, '{_PARA_CONTENT_RE}'))
               as paras
      from s),
m as (select doc_id,
             len(paras) as n,
             length(text) as chars,
             len(list_distinct(paras)) as nd,
             list_sum(list_transform(list_distinct(paras),
                 p -> ({occ} - 1) * length(p))) as dup_chars,
             list_max(list_transform(list_distinct(paras),
                 p -> {occ} * length(p))) as top
      from p)
select doc_id,
       coalesce(n, 0)::BIGINT as n_paras,
       round(case when n > 0 then 1.0 - nd / n::DOUBLE end, 6)
         as dup_para_frac,
       round(case when n > 0 then dup_chars::DOUBLE / nullif(chars, 0) end, 6)
         as dup_para_char_frac,
       round(case when n > 0 then top::DOUBLE / nullif(chars, 0) end, 6)
         as top_para_char_frac
from m
"""

_TOP_FRACTION = 0.2


def q_top_quality_docs(spark, sf_dir):
    """Final corpus selection: keep the top 20% of documents by word count
    with a deterministic md5 tie-break (exact mode → TakeOrderedAndProject,
    never a full global sort — plan-pinned in test_corpus)."""
    from cloud_data_quality_spark.functions.corpus import (
        top_fraction_by_score)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.word_count(F.col("text")).alias("score"))
    return top_fraction_by_score(docs, _TOP_FRACTION, "score",
                                 exact=True)


ORACLE_TOP_QUALITY = f"""
select doc_id, {OF.sql_word_count('text')} as score
from documents
order by score desc, md5(doc_id::VARCHAR) asc
limit (select floor(count(*) * {_TOP_FRACTION})::BIGINT from documents)
"""


def q_bpe_tokens(spark, sf_dir):
    """Per-document SUBWORD tokens as a pure JVM Column plan (the
    training-ready tokenized output; zero Python in the plan — plan test
    in test_packing). DuckDB replays the identical merge chain."""
    from cloud_data_quality_spark.functions.bpe_artifact import (
        bpe_tokens_column)
    toks = bpe_tokens_column("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("tokens"),
        F.coalesce(F.size(toks), F.lit(0)).cast("bigint").alias("n_tokens"))


ORACLE_BPE_TOKENS = f"""
select doc_id, {{toks}} as tokens,
       coalesce(len({{toks}}), 0)::BIGINT as n_tokens
from documents
"""


def _oracle_bpe_tokens() -> str:
    toks = OF.sql_bpe_tokens("text")
    return ORACLE_BPE_TOKENS.format(toks=toks)



def q_rollup_quality(spark, sf_dir):
    """ROLLUP aggregation over the verdict dimensions (subtotals + grand
    total) — multi-level summary reporting in one pass."""
    ann = annotate_quality_arrow(_t(spark, sf_dir, "documents"),
                                 text_col="text", with_perplexity=False)
    return (ann.rollup("lang_pred", "keep")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select("lang_pred", "keep", "n_docs"))


def _oracle_rollup_quality() -> str:
    return (f"with v as ({_oracle_quality_verdict()}) "
            f"select lang_pred, keep, count(*)::BIGINT as n_docs "
            f"from v group by rollup(lang_pred, keep)")


def q_topk_docs_per_lang(spark, sf_dir):
    """Top-3 docs per language by size — rank window partitioned by a
    bounded key (deterministic tie-break on doc_id)."""
    from pyspark.sql.window import Window
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(),
                                           F.col("doc_id").asc())
    return (docs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("lang", "doc_id", "n_chars", F.col("rank").cast("int")))


ORACLE_TOPK_DOCS_PER_LANG = """
select lang, doc_id, n_chars,
       row_number() over (partition by lang
                          order by n_chars desc, doc_id asc)::INT as rank
from documents
qualify rank <= 3
"""



def q_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination (functions/corpus.contamination): the
    'benchmark' is the deterministic doc_id%50==0 slice standing in for an
    eval set; every remaining doc reports its 4-word-shingle overlap."""
    from cloud_data_quality_spark.functions.corpus import contamination
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return contamination(corpus, bench, text_col="text", id_col="doc_id",
                         shingle_words=4)


ORACLE_DECONTAMINATE_DOCS = f"""
with d as (select doc_id, {OF.sql_word_shingles('text', 4)} as sh
           from documents),
bench as (select distinct md5(lower(trim(u.s, ' '))) as h
          from d cross join unnest(sh) as u(s) where doc_id % 50 = 0),
corpus_sh as (select doc_id, md5(lower(trim(u.s, ' '))) as h
              from d cross join unnest(sh) as u(s) where doc_id % 50 != 0),
hits as (select doc_id, count(*)::BIGINT as n_contaminated
         from corpus_sh where h in (select h from bench) group by doc_id)
select d.doc_id, len(sh)::BIGINT as n_shingles,
       coalesce(n_contaminated, 0)::BIGINT as n_contaminated,
       round(coalesce(n_contaminated, 0)::DOUBLE / nullif(len(sh), 0), 6)
         as contaminated_frac,
       coalesce(n_contaminated, 0) > 0 as is_contaminated
from d left join hits using (doc_id)
where d.doc_id % 50 != 0
"""


def _oracle_stratified_sample() -> str:
    """Generated from the SAME fraction dict + sample_threshold constants as
    the Spark query — thresholds are exact integers, so the two engines make
    bit-identical keep decisions (md5-prefix trick)."""
    from cloud_data_quality_spark.functions.corpus import sample_threshold
    cases = " ".join(
        f"when '{k}' then {sample_threshold(v)}"
        for k, v in sorted(STRATIFIED_FRACTIONS.items()))
    return f"""
select doc_id, lang from documents
where ('0x' || substr(md5(doc_id::VARCHAR || '|r3'), 1, 15))::BIGINT <
      case lang {cases} else {sample_threshold(0.0)} end
"""


STRATIFIED_FRACTIONS = {"en": 0.5, "de": 0.2}


def q_stratified_sample_docs(spark, sf_dir):
    """Deterministic hash-threshold stratified sampling
    (functions/corpus.stratified_sample): keep 50% of en, 20% of de, 0%
    elsewhere — decisions replayable bit-identically by the oracle, unlike
    rand()-based df.sample()."""
    from cloud_data_quality_spark.functions.corpus import stratified_sample
    return stratified_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        STRATIFIED_FRACTIONS, stratum_col="lang", id_col="doc_id",
        salt="r3")



RESAMPLE_TARGET = {"en": 0.4, "es": 0.2, "de": 0.2, "fr": 0.2}  # zh dropped


def q_importance_resample_docs(spark, sf_dir):
    """Data-mixing rebalance (functions/corpus.importance_resample): thin
    the English-heavy corpus to a target language mix; the scarcest-vs-
    target stratum is kept in full, everything else downsampled
    proportionally via the deterministic md5-threshold."""
    from cloud_data_quality_spark.functions.corpus import importance_resample
    return importance_resample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        RESAMPLE_TARGET, stratum_col="lang", id_col="doc_id", salt="mix")


def _oracle_importance_resample() -> str:
    """Generated from the SAME target dict; the threshold expression keeps
    the exact double-op order of the Spark plan (C·t/n·2^60) so both
    engines floor identical IEEE values."""
    cases = " ".join(f"when '{k}' then {v}"
                     for k, v in sorted(RESAMPLE_TARGET.items()))
    two60 = float(1 << 60)
    return f"""
with counts as (
  select lang, count(*)::DOUBLE as n,
         (case lang {cases} end)::DOUBLE as t
  from documents group by lang),
valid as (select * from counts where t is not null and t > 0),
c as (select min(n / t) as c from valid),
rates as (select lang, floor(c.c * t / n * {two60!r})::BIGINT as thr
          from valid cross join c)
select d.doc_id, d.lang from documents d join rates using (lang)
where ('0x' || substr(md5(d.doc_id::VARCHAR || '|mix'), 1, 15))::BIGINT < thr
"""


def q_repetition_stats_docs(spark, sf_dir):
    """Gopher n-gram repetition signals (functions/corpus.repetition_stats):
    per-doc duplicate-2-gram and top-2-gram character fractions."""
    from cloud_data_quality_spark.functions.corpus import repetition_stats
    return repetition_stats(_t(spark, sf_dir, "documents"),
                            text_col="text", id_col="doc_id", n=2)


ORACLE_REPETITION_STATS_DOCS = f"""
with t as (select doc_id, length(text) as chars,
                  {OF.sql_tokens('text')} as toks from documents),
grams as (
  select doc_id, chars,
         array_to_string(toks[g.i:g.i+1], ' ') as g
  from t cross join unnest(generate_series(1, len(toks) - 1)) as g(i)
  where len(toks) >= 2),
per_gram as (select doc_id, g, count(*) as cnt,
                    any_value(chars) as chars from grams group by 1, 2),
stats as (
  select doc_id, sum(cnt)::BIGINT as n_grams,
         round(max(cnt * length(g))::DOUBLE / any_value(chars), 6)
           as top_gram_char_frac,
         round(coalesce(sum(case when cnt > 1 then cnt * length(g) end), 0)
               ::DOUBLE / any_value(chars), 6) as dup_gram_char_frac
  from per_gram group by doc_id)
select d.doc_id, coalesce(n_grams, 0)::BIGINT as n_grams,
       top_gram_char_frac, dup_gram_char_frac
from documents d left join stats using (doc_id)
"""


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking (functions/corpus.chunk_documents): 64-token
    windows, 8-token overlap — the long-doc sibling of pack_documents."""
    from cloud_data_quality_spark.functions.corpus import chunk_documents
    return chunk_documents(_t(spark, sf_dir, "documents"),
                           budget_tokens=64, overlap_tokens=8,
                           text_col="text", id_col="doc_id")


ORACLE_CHUNK_DOCUMENTS = f"""
with t as (select doc_id, {OF.sql_tokens('text')} as toks from documents),
n as (select doc_id, toks,
             greatest(ceil((len(toks) - 8) / 56.0)::INT,
                      case when len(toks) > 0 then 1 else 0 end) as n_chunks
      from t),
chunks as (
  select doc_id, (g.i - 1)::INT as chunk_id,
         toks[(g.i-1)*56+1:(g.i-1)*56+64] as ctoks
  from n cross join unnest(generate_series(1, n_chunks)) as g(i))
select doc_id, chunk_id, array_to_string(ctoks, ' ') as chunk_text,
       len(ctoks)::BIGINT as n_tokens
from chunks
"""



# ---------------------------------------- learned quality classifier ops

def q_classifier_score_docs(spark, sf_dir):
    """Model-based quality filter: the offline-trained hashed-n-gram linear
    classifier (functions/qc_artifact) applied as a pure-JVM plan —
    broadcast weight join + exact int64 aggregation, so every score and
    keep/drop decision replays bit-for-bit in the oracle."""
    from cloud_data_quality_spark.functions.classifier import (
        classifier_scores)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_scores(docs)


def _classifier_score_ctes() -> str:
    """Shared WITH-block replaying the classifier scoring plan in DuckDB
    (weight list literal, tokenize, unigram+bigram features, md5 bucket
    join, per-doc int64 sum) — ONE spelling, consumed by both classifier
    oracles so the feature/hash lockstep can't drift between them."""
    from cloud_data_quality_spark.functions.qc_artifact import (
        QC_BUCKETS, QC_WEIGHTS_MICRO)
    weights = ",".join(str(int(v)) for v in QC_WEIGHTS_MICRO)
    toks = OF.sql_tokens("text")
    return f"""
wl as (select [{weights}]::BIGINT[] as l),
w as (select i as bucket, l[i::INT + 1] as wm from wl cross join range({QC_BUCKETS}) t(i)),
toks as (select doc_id, {toks} as t from documents),
feats as (
  select doc_id, unnest(list_concat(t,
    case when len(t) >= 2
         then list_transform(list_slice(t, 2, len(t)), (x, i) -> t[i] || ' ' || x)
         else []::VARCHAR[] end)) as f
  from toks),
summed as (
  select doc_id, sum(wm)::BIGINT as ws
  from feats join w
    on (('0x' || substr(md5(f), 1, 15))::BIGINT % {QC_BUCKETS}) = w.bucket
  group by doc_id)"""


def _oracle_classifier_score() -> str:
    from cloud_data_quality_spark.functions.qc_artifact import QC_BIAS_MICRO
    return f"""
with {_classifier_score_ctes()}
select d.doc_id,
       (coalesce(s.ws, 0) + {QC_BIAS_MICRO})::BIGINT as score_micro,
       (coalesce(s.ws, 0) + {QC_BIAS_MICRO}) >= 0 as ml_keep
from documents d left join summed s using (doc_id)
"""


_TOKEN_BUDGET = 15_000


def q_token_budget_select(spark, sf_dir):
    """Budgeted corpus selection: rank every document by the learned
    classifier score (int64-exact) and keep documents until the corpus
    token budget is met — the distributed prefix-sum of
    functions/selection.select_token_budget (range partition +
    per-partition totals + driver offset merge; never a single-partition
    global window)."""
    from cloud_data_quality_spark.functions.classifier import (
        classifier_scores)
    from cloud_data_quality_spark.functions.selection import (
        select_token_budget)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = (classifier_scores(docs)
              .join(docs.select(
                  "doc_id",
                  TX.word_count(F.col("text")).alias("n_tokens")),
                  "doc_id")
              .select("doc_id", F.col("score_micro").alias("score"),
                      "n_tokens"))
    sel = select_token_budget(scored, _TOKEN_BUDGET, score_col="score",
                              token_col="n_tokens", id_col="doc_id")
    return sel.select("doc_id", "n_tokens", "cum_tokens")


def _oracle_token_budget_select() -> str:
    from cloud_data_quality_spark.functions.qc_artifact import QC_BIAS_MICRO
    wc = OF.sql_word_count("text")
    return f"""
with {_classifier_score_ctes()},
scored as (
  select d.doc_id, (coalesce(s.ws, 0) + {QC_BIAS_MICRO})::BIGINT as score,
         {wc} as n_tokens
  from documents d left join summed s using (doc_id)),
c as (
  select doc_id, n_tokens,
         sum(n_tokens) over (order by score desc, doc_id asc
                             rows between unbounded preceding
                                      and current row) as cum
  from scored)
select doc_id, n_tokens::BIGINT as n_tokens, cum::BIGINT as cum_tokens
from c where cum <= {_TOKEN_BUDGET}
"""


_PPL_CUTS = [(1, 3), (2, 3)]
_PPL_LABELS = ["head", "middle", "tail"]


def q_perplexity_buckets_docs(spark, sf_dir):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3): label
    every doc by which exact corpus-perplexity tercile it falls in
    (functions/selection.quantile_buckets over the corpus-unigram NLL).
    Rank targets are integer-exact (ceil(n·k/3) via integer arithmetic),
    so both engines derive identical boundary scores — no approximate
    percentile anywhere."""
    from cloud_data_quality_spark.functions.selection import quantile_buckets
    scored = q_unigram_logprob(spark, sf_dir)
    return quantile_buckets(scored, "nll", cuts=_PPL_CUTS,
                            labels=_PPL_LABELS)


def _oracle_perplexity_buckets() -> str:
    # boundaries replayed with the SAME integer rank targets over the same
    # 4dp-rounded nll the unigram oracle produces
    cuts_sql = []
    for k, (num, den) in enumerate(_PPL_CUTS):
        cuts_sql.append(
            f"b{k} as (select min(nll) as b from cum "
            f"where c >= (n * {num} + {den - 1}) // {den})")
    whens = " ".join(
        f"when s.nll <= (select b from b{k}) then '{label}'"
        for k, label in enumerate(_PPL_LABELS[:-1]))
    return f"""
with scored as ({ORACLE_UNIGRAM_LOGPROB}),
f as (select nll, count(*) cnt from scored group by nll),
cum as (select nll, sum(cnt) over (order by nll) as c,
               (select count(*) from scored) as n from f),
{", ".join(cuts_sql)}
select s.doc_id, s.nll,
       case {whens} else '{_PPL_LABELS[-1]}' end as bucket
from scored s
"""


_DUP_NGRAM_N = 8


def q_dup_ngram_stats_docs(spark, sf_dir):
    """Cross-document duplicated n-gram coverage
    (functions/corpus.duplicated_ngram_stats): per-doc fraction of distinct
    8-word shingles that occur in other documents — the RefinedWeb-style
    boilerplate signal; exact integer ratios end to end."""
    from cloud_data_quality_spark.functions.corpus import (
        duplicated_ngram_stats)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_ngram_stats(docs, n=_DUP_NGRAM_N)


def _oracle_dup_ngram_stats() -> str:
    sh = OF.sql_word_shingles("text", _DUP_NGRAM_N)
    return f"""
with s as (select doc_id, {sh} as sh from documents where text is not null),
e as (select doc_id, md5(unnest(sh)) as fp from s),
c as (select fp, count(*) as docs from e group by fp),
d as (select e.doc_id, count(*) as n_sh,
             sum(case when c.docs > 1 then 1 else 0 end) as n_dup
      from e join c using (fp) group by e.doc_id)
select s.doc_id,
       coalesce(d.n_sh, 0)::BIGINT as n_shingles,
       coalesce(d.n_dup, 0)::BIGINT as n_dup_shingles,
       round(coalesce(d.n_dup, 0) /
             nullif(coalesce(d.n_sh, 0), 0)::DOUBLE, 6) as dup_ngram_frac
from s left join d using (doc_id)
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "split1"


def q_dataset_split_docs(spark, sf_dir):
    """Deterministic exclusive train/val/test assignment
    (functions/corpus.dataset_split): 60-bit id-hash vs cumulative integer
    thresholds — exhaustive, exclusive, reproducible across engines and
    partitionings (re-runs MUST NOT leak eval docs into training)."""
    from cloud_data_quality_spark.functions.corpus import dataset_split
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return dataset_split(docs, _SPLIT_WEIGHTS, id_col="doc_id",
                         salt=_SPLIT_SALT)


def _oracle_dataset_split() -> str:
    """Generated from the SAME weights/salt via split_boundaries — the two
    engines compare the same integers against the same md5 prefix."""
    from cloud_data_quality_spark.functions.corpus import split_boundaries
    bounds = split_boundaries(_SPLIT_WEIGHTS)
    h = (f"('0x' || substr(md5(doc_id::VARCHAR || '|{_SPLIT_SALT}'), "
         f"1, 15))::BIGINT")
    whens = " ".join(f"when {h} < {bound} then '{name}'"
                     for name, bound in bounds[:-1])
    return f"""
select doc_id, case {whens} else '{bounds[-1][0]}' end as split
from documents
"""


def _wav_blob_hex_sql(hexfn: str) -> str:
    """Hex string of a synthesized 44-byte PCM WAV header per doc_id —
    evaluated by BOTH engines, byte-identical to multimodal.make_wav:
    RIFF size + 'WAVE', canonical 'fmt ' (LE u16/u32 fields), 'data' with
    a declared-but-absent payload (the header-scan posture). Every 11th
    doc is garbage bytes — the INVALID row."""
    c = "(1 + (doc_id % 2))"
    bits = "(8 * (1 + (doc_id % 3)))"
    ba = f"({c} * (1 + (doc_id % 3)))"
    sr = "(8000 + (doc_id % 9) * 4000)"
    nf = "((doc_id % 1000) + 1)"
    ds = f"({nf} * {ba})"

    def le16(x):
        h = f"lpad({hexfn}({x}), 4, '0')"
        return f"(substr({h}, 3, 2) || substr({h}, 1, 2))"

    def le32(x):
        h = f"lpad({hexfn}({x}), 8, '0')"
        return (f"(substr({h}, 7, 2) || substr({h}, 5, 2) || "
                f"substr({h}, 3, 2) || substr({h}, 1, 2))")

    wav = (f"('52494646' || {le32(f'(36 + {ds})')} || '57415645' || "
           f"'666d7420' || '10000000' || '0100' || {le16(c)} || "
           f"{le32(sr)} || {le32(f'({sr} * {ba})')} || {le16(ba)} || "
           f"{le16(bits)} || '64617461' || {le32(ds)})")
    return f"case when doc_id % 11 = 0 then 'deadbeef' else {wav} end"


def q_audio_metadata(spark, sf_dir):
    """Real WAV/RIFF header decode (multimodal.parse_audio_header): blobs
    synthesized JVM-side via unhex() from the shared hex fragment, then
    sample_rate/channels/bits/n_frames/duration parsed from the actual
    bytes in the mapInPandas header stage. The oracle knows the
    parameters it encoded, so any parser drift — endianness, chunk-walk
    offsets, integer-division duration — value-mismatches."""
    from cloud_data_quality_spark.functions.multimodal import audio_metadata
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"unhex({_wav_blob_hex_sql('hex')})").alias("blob"))
    out = audio_metadata(docs, blob_col="blob")
    return out.select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("audio_channels").cast("int").alias("audio_channels"),
        F.col("bits_per_sample").cast("int").alias("bits_per_sample"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
        "audio_format",
        F.sha2(F.lower(F.hex(F.col("blob"))), 256).alias("blob_hex_sha256"))


def _oracle_audio_metadata() -> str:
    """Fields come straight from the synthesis arithmetic (the encoder's
    inputs); blob_hex_sha256 pins byte-equality of the blob both engines
    built, same contract as _oracle_image_metadata."""
    blob = _wav_blob_hex_sql("to_hex")
    return f"""
select doc_id,
       (case when doc_id % 11 = 0 then null
             else 8000 + (doc_id % 9) * 4000 end)::INT as sample_rate,
       (case when doc_id % 11 = 0 then null
             else 1 + (doc_id % 2) end)::INT as audio_channels,
       (case when doc_id % 11 = 0 then null
             else 8 * (1 + (doc_id % 3)) end)::INT as bits_per_sample,
       (case when doc_id % 11 = 0 then null
             else (doc_id % 1000) + 1 end)::BIGINT as n_frames,
       (case when doc_id % 11 = 0 then null
             else (((doc_id % 1000) + 1) * 1000)
                  // (8000 + (doc_id % 9) * 4000) end)::BIGINT as duration_ms,
       case when doc_id % 11 = 0 then 'INVALID' else 'WAV' end
         as audio_format,
       sha256(lower({blob})) as blob_hex_sha256
from documents
"""


#: unity transform matrix shared by mvhd/tkhd (9 BE u32s)
_MP4_MATRIX_HEX = ("00010000" + "00000000" * 3 + "00010000"
                   + "00000000" * 3 + "40000000")


def _mp4_blob_hex_sql(hexfn: str) -> str:
    """Hex of a synthesized ISO-BMFF header per doc_id — byte-identical to
    multimodal.make_mp4 (ftyp + moov(mvhd v0 + trak(tkhd v0))). All
    variable fields are BE u32s, so lpad(hex(x), 8, '0') splices them with
    no byte swapping. Every 11th doc is garbage — an INVALID row."""
    ts = "(600 + (doc_id % 5) * 300)"
    dur = "((doc_id % 100000) * 97 + 1)"
    w = "(160 + (doc_id % 120) * 16)"
    h = "(90 + (doc_id % 95) * 16)"

    def be32(x):
        return f"lpad({hexfn}({x}), 8, '0')"

    def fx1616(x):
        return f"(lpad({hexfn}({x}), 4, '0') || '0000')"

    mp4 = ("('000000106674797069736f6d00000000'"           # ftyp isom
           " || '000000d86d6f6f76'"                        # moov(216)
           " || '0000006c6d76686400000000' || '0000000000000000'"
           f" || {be32(ts)} || {be32(dur)}"
           " || '000100000100' || '00000000000000000000'"  # rate+vol+rsvd
           f" || '{_MP4_MATRIX_HEX}' || '{'00' * 24}' || '00000002'"
           " || '000000647472616b'"                        # trak(100)
           " || '0000005c746b686400000000' || '0000000000000000'"
           " || '00000001' || '00000000'"                  # track id+rsvd
           f" || {be32(dur)} || '{'00' * 16}'"             # dur + rsvd/layer
           f" || '{_MP4_MATRIX_HEX}'"
           f" || {fx1616(w)} || {fx1616(h)})")
    return f"case when doc_id % 11 = 0 then 'deadbeef' else {mp4} end"


def q_video_metadata(spark, sf_dir):
    """Real MP4/ISO-BMFF header decode (multimodal.parse_video_header):
    box-grammar walk to moov/mvhd (timescale, duration) and
    moov/trak/tkhd (16.16 fixed-point dims) over blobs synthesized
    JVM-side from the shared hex fragment. The oracle knows the encoded
    parameters, so any drift in the box walk, version offsets, fixed-point
    shift, or integer-ms division value-mismatches."""
    from cloud_data_quality_spark.functions.multimodal import video_metadata
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"unhex({_mp4_blob_hex_sql('hex')})").alias("blob"))
    out = video_metadata(docs, blob_col="blob")
    return out.select(
        "doc_id",
        F.col("v_timescale").cast("int").alias("v_timescale"),
        F.col("v_duration").cast("bigint").alias("v_duration"),
        F.col("v_duration_ms").cast("bigint").alias("v_duration_ms"),
        F.col("v_width").cast("int").alias("v_width"),
        F.col("v_height").cast("int").alias("v_height"),
        "video_format",
        F.sha2(F.lower(F.hex(F.col("blob"))), 256).alias("blob_hex_sha256"))


def _oracle_video_metadata() -> str:
    blob = _mp4_blob_hex_sql("to_hex")
    return f"""
select doc_id,
       (case when doc_id % 11 = 0 then null
             else 600 + (doc_id % 5) * 300 end)::INT as v_timescale,
       (case when doc_id % 11 = 0 then null
             else (doc_id % 100000) * 97 + 1 end)::BIGINT as v_duration,
       (case when doc_id % 11 = 0 then null
             else (((doc_id % 100000) * 97 + 1) * 1000)
                  // (600 + (doc_id % 5) * 300) end)::BIGINT as v_duration_ms,
       (case when doc_id % 11 = 0 then null
             else 160 + (doc_id % 120) * 16 end)::INT as v_width,
       (case when doc_id % 11 = 0 then null
             else 90 + (doc_id % 95) * 16 end)::INT as v_height,
       case when doc_id % 11 = 0 then 'INVALID' else 'MP4' end
         as video_format,
       sha256(lower({blob})) as blob_hex_sha256
from documents
"""


#: revision synthesis: the ONLY per-doc variation is inside a tracking
#: param + URL case/port noise, so canonicalization itself is what
#: collapses revisions — the dedup key is exercised, not assumed.
_REVISION_URL_SQL = ("'HTTPS://' || upper(source) || '.Example.COM:443/p/'"
                     " || (doc_id % 157) || '?utm_content=' || doc_id")
_REVISION_TS_SQL = "cast(1600000000 + (doc_id * 7919) % 1000000 as bigint)"


def q_url_revision_dedup(spark, sf_dir):
    """WARC revisit dedup (hosts.latest_revision): newest capture per
    canonical URL, tie-broken by smallest doc_id; n_revisions counts the
    collapsed captures. One partial-aggregated shuffle, no window."""
    from cloud_data_quality_spark.functions.hosts import latest_revision
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_REVISION_URL_SQL).alias("url"),
        F.expr(_REVISION_TS_SQL).alias("warc_ts"))
    return latest_revision(docs)


def _oracle_url_revision_dedup() -> str:
    return f"""
with u as (select doc_id,
                  'https://' || source || '.example.com/p/' || (doc_id % 157)
                    as canon_url,
                  {_REVISION_TS_SQL} as warc_ts
           from documents),
r as (select *,
             row_number() over (partition by canon_url
                                order by warc_ts desc, doc_id asc) as rn,
             count(*) over (partition by canon_url) as n_revisions,
             max(warc_ts) over (partition by canon_url) as max_ts
      from u)
select canon_url, doc_id, max_ts as warc_ts,
       n_revisions::BIGINT as n_revisions
from r where rn = 1
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (corpus.tfidf_top_terms) — scores
    rounded to 4dp before ranking so both engines rank the exact values
    they emit; ties broken by term."""
    from cloud_data_quality_spark.functions.corpus import tfidf_top_terms
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=3)


def _oracle_tfidf_top_terms() -> str:
    toks = OF.sql_tokens("text")
    return f"""
with toks as (select doc_id, unnest({toks}) as term from documents),
tf as (select doc_id, term, count(*)::BIGINT as tf from toks group by 1, 2),
n as (select count(*)::BIGINT as n from documents),
dfq as (select term,
               ln((1 + (select n from n)) / (1.0 + count(*))) + 1 as idf
        from tf group by term),
scored as (select tf.doc_id, tf.term, tf.tf,
                  round(tf.tf * dfq.idf, 4) as score
           from tf join dfq using (term)),
r as (select *, row_number() over (partition by doc_id
                                   order by score desc, term asc) as rank
      from scored)
select doc_id, term, tf, score, rank::INT as rank from r where rank <= 3
"""


#: link-graph synthesis: 23 hosts, two outlinks per doc derived from
#: doc_id arithmetic; the html also plants a relative href (no host → must
#: drop), a duplicate href (distinct must collapse), and mixed-case
#: HREF = with attribute whitespace (pattern must match). The oracle
#: rebuilds edges from the ARITHMETIC, so extraction + host-parse are
#: checked end-to-end against ground truth, not replayed.
_LINK_HTML_SQL = (
    "'<p><a href=\"https://h' || ((doc_id * 3 + 1) % 23) || '.test/x\">a</a>"
    "<a HREF = \"https://h' || ((doc_id * 7 + 2) % 23) || '.test/y\">b</a>"
    "<a href=\"https://h' || ((doc_id * 3 + 1) % 23) || '.test/x\">dup</a>"
    "<a href=\"/local\">rel</a></p>'")
_LINK_SRC_URL_SQL = "'https://h' || (doc_id % 23) || '.test/p/' || doc_id"
_PAGERANK_ITERS = 3


def q_host_pagerank(spark, sf_dir):
    """Link graph end-to-end (functions/linkgraph): href extraction →
    host edges (absolute-only, self-loops dropped, distinct) → degrees +
    integer-exact PageRank. rank_micro is bigint micro-units with
    truncating division throughout, so the value hash is exact on any
    partitioning — no FP summation order anywhere."""
    from cloud_data_quality_spark.functions.linkgraph import (
        extract_links,
        host_degrees,
        host_edges,
        host_pagerank,
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_LINK_SRC_URL_SQL).alias("url"),
        F.expr(_LINK_HTML_SQL).alias("html"))
    links = extract_links(docs, keep_cols=("url",))
    edges = host_edges(links)
    pr = host_pagerank(edges, iterations=_PAGERANK_ITERS)
    return pr.join(host_degrees(edges), "host").select(
        "host", "rank_micro", "out_deg", "in_deg")


def _oracle_host_pagerank() -> str:
    parts = [f"""
with e0 as (
  select distinct 'h' || (doc_id % 23) || '.test' as src,
                  'h' || ((doc_id * 3 + 1) % 23) || '.test' as dst
  from documents where (doc_id % 23) != ((doc_id * 3 + 1) % 23)
  union
  select distinct 'h' || (doc_id % 23) || '.test',
                  'h' || ((doc_id * 7 + 2) % 23) || '.test'
  from documents where (doc_id % 23) != ((doc_id * 7 + 2) % 23)
),
nodes as (select src as host from e0 union select dst from e0),
deg as (select src, count(*)::BIGINT as out_deg from e0 group by src),
indeg as (select dst, count(*)::BIGINT as in_deg from e0 group by dst),
r0 as (select host, 1000000::BIGINT as rank_micro from nodes)"""]
    for i in range(1, _PAGERANK_ITERS + 1):
        parts.append(f""",
c{i} as (select e.dst as host,
               sum(r.rank_micro // d.out_deg)::BIGINT as sc
        from e0 e
        join r{i - 1} r on e.src = r.host
        join deg d on e.src = d.src
        group by e.dst),
r{i} as (select n.host,
               (150000 + (85 * coalesce(c.sc, 0)) // 100)::BIGINT
                 as rank_micro
        from nodes n left join c{i} c using (host))""")
    parts.append(f"""
select r.host, r.rank_micro,
       coalesce(d.out_deg, 0) as out_deg,
       coalesce(i.in_deg, 0) as in_deg
from r{_PAGERANK_ITERS} r
left join deg d on r.host = d.src
left join indeg i on r.host = i.dst
""")
    return "".join(parts)


def q_corpus_profile(spark, sf_dir):
    """Per-language corpus profile: doc/char totals + exact discrete
    median and p90 of document length (selection.grouped_percentiles_disc
    — integer rank targets over a value-frequency table, nothing
    collected, no percentile_approx)."""
    from cloud_data_quality_spark.functions.selection import (
        grouped_percentiles_disc)
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    prof = grouped_percentiles_disc(
        docs, "n_chars", ["lang"],
        (("chars_p50", 1, 2), ("chars_p90", 9, 10)))
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_chars").alias("char_sum"))
    return counts.join(prof, "lang").select(
        "lang", "doc_count", "char_sum", "chars_p50", "chars_p90")


def _oracle_corpus_profile() -> str:
    return """
with f as (select lang, n_chars, count(*)::BIGINT as c
           from documents where n_chars is not null group by 1, 2),
cumf as (select *, sum(c) over (partition by lang order by n_chars
                                rows unbounded preceding) as cum from f),
t as (select lang, sum(c)::BIGINT as n from f group by lang),
p as (select cumf.lang,
             min(case when cum >= (n * 1 + 1) // 2 then n_chars end)
               as chars_p50,
             min(case when cum >= (n * 9 + 9) // 10 then n_chars end)
               as chars_p90
      from cumf join t using (lang) group by cumf.lang),
c as (select lang, count(*)::BIGINT as doc_count,
             sum(n_chars)::BIGINT as char_sum
      from documents group by lang)
select c.lang, doc_count, char_sum, chars_p50, chars_p90
from c join p using (lang)
"""


def q_host_quality_prior(spark, sf_dir):
    """Domain-level quality prior (hosts.host_quality_prior): hosts where
    under 62% of docs pass the (synthesized, deterministic) doc-level
    verdict are dropped wholesale; sub-min_docs hosts pass on no evidence.
    Integer cross-multiplied threshold — exact survivor set."""
    from cloud_data_quality_spark.functions.hosts import host_quality_prior
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("'h' || (doc_id % 31)").alias("host"),
        F.expr("((doc_id * 13) % 100) < 62").alias("keep_flag"))
    return host_quality_prior(docs, host_col="host", flag_col="keep_flag",
                              min_docs=5, min_frac=(3, 5))


def _oracle_host_quality_prior() -> str:
    return """
with d as (select doc_id, 'h' || (doc_id % 31) as host,
                  ((doc_id * 13) % 100) < 62 as keep_flag
           from documents),
h as (select host, count(*)::BIGINT as n,
             sum(case when keep_flag then 1 else 0 end)::BIGINT as k
      from d group by host),
ok as (select host from h where n < 5 or k * 5 >= n * 3)
select d.host, d.doc_id, d.keep_flag from d semi join ok using (host)
"""


#: messy-input synthesis for normalize_text — literal Unicode chars shared
#: by both engines (chr() differs: Spark chr() is mod-256, DuckDB chr() is
#: code-point — only chr(1) is safe cross-engine, used for the control
#: byte). Exercises every normalization rule: zero-width, curly quotes,
#: ellipsis, NBSP, tab runs, control char, dash, trailing spaces.
_MESSY_TEXT_SQL = ("'\u200b \u2018' || text || '\u2019\t\t"
                   "\u2026\u00a0x' || chr(1) || '\u2013y  '")


def q_normalize_text(spark, sf_dir):
    """Unicode web-text normalization (text.normalize_text): pure-JVM
    regexp/translate chain; the DuckDB oracle replays the identical chain
    generated from the same constants over the same messy synthesis."""
    from cloud_data_quality_spark.functions.text import normalize_text
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_MESSY_TEXT_SQL).alias("raw"))
    return docs.select(
        "doc_id",
        normalize_text(F.col("raw")).alias("clean_text"),
        F.length(F.col("raw")).alias("raw_len"))


def _oracle_normalize_text() -> str:
    clean = OF.sql_normalize_text("raw")
    return f"""
with d as (select doc_id, {_MESSY_TEXT_SQL} as raw from documents)
select doc_id, {clean} as clean_text, length(raw)::INT as raw_len from d
"""


#: URL synthesis exercising every blocklist pattern class + clean survivors
_HYGIENE_URL_SQL = (
    "'https://h' || (doc_id % 7) || '.test' || "
    "case (doc_id % 9) "
    "when 0 then '/search?q=' || doc_id "
    "when 1 then '/tag/x' "
    "when 2 then '/page/' || (doc_id % 40) "
    "when 3 then '/a/page/3x' "         # not a trailing /page/N — survives
    "when 4 then '/feed' "
    "when 5 then '/p?replytocom=' || doc_id "
    "else '/article/' || doc_id end")


def q_url_hygiene_filter(spark, sf_dir):
    """Crawl-hygiene path filtering (hosts.drop_url_patterns): one combined
    RE2-safe alternation, one narrow filter — the oracle runs the identical
    expressions via regexp_matches."""
    from cloud_data_quality_spark.functions.hosts import drop_url_patterns
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_HYGIENE_URL_SQL).alias("url"))
    return drop_url_patterns(docs)


def _oracle_url_hygiene_filter() -> str:
    from cloud_data_quality_spark.functions.hosts import URL_PATTERN_BLOCKLIST
    combined = "(" + "|".join(URL_PATTERN_BLOCKLIST) + ")"
    return f"""
with d as (select doc_id, {_HYGIENE_URL_SQL} as url from documents)
select doc_id, url from d
where not coalesce(regexp_matches(url, '{combined}'), false)
"""


def _dsir_score_ctes() -> str:
    """WITH-block replaying dsir_scores in DuckDB — same skeleton as
    _classifier_score_ctes with the DSIR weight list (shared tokenize /
    feature / md5-bucket spelling, so the contracts can't drift apart)."""
    from cloud_data_quality_spark.functions.dsir_artifact import (
        DSIR_WEIGHTS_MICRO)
    from cloud_data_quality_spark.functions.qc_artifact import QC_BUCKETS
    weights = ",".join(str(int(v)) for v in DSIR_WEIGHTS_MICRO)
    toks = OF.sql_tokens("text")
    return f"""
wl as (select [{weights}]::BIGINT[] as l),
w as (select i as bucket, l[i::INT + 1] as wm
      from wl cross join range({QC_BUCKETS}) t(i)),
toks as (select doc_id, {toks} as t from documents),
feats as (
  select doc_id, unnest(list_concat(t,
    case when len(t) >= 2
         then list_transform(list_slice(t, 2, len(t)),
                             (x, i) -> t[i] || ' ' || x)
         else []::VARCHAR[] end)) as f
  from toks),
summed as (
  select doc_id, sum(wm)::BIGINT as ws, count(*)::BIGINT as nf
  from feats join w
    on (('0x' || substr(md5(f), 1, 15))::BIGINT % {QC_BUCKETS}) = w.bucket
  group by doc_id)"""


def q_dsir_scores(spark, sf_dir):
    """DSIR importance scoring (functions/dsir): int64 log-ratio sum per
    document under the embedded target-vs-raw hashed-ngram models."""
    from cloud_data_quality_spark.functions.dsir import dsir_scores
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_scores(docs)


def _oracle_dsir_scores() -> str:
    return f"""
with {_dsir_score_ctes()}
select d.doc_id,
       coalesce(s.ws, 0)::BIGINT as dsir_micro,
       coalesce(s.nf, 0)::BIGINT as n_feats
from documents d left join summed s using (doc_id)
"""


#: boilerplate synthesis: every doc of a host shares a nav line and a
#: footer line (plus a blank structural line that must SURVIVE); two
#: single-doc 'rare' hosts sit below min_docs and keep their template.
_BOILER_HOST_SQL = ("case when doc_id % 250 = 124 then 'rare' || doc_id "
                    "else 'h' || (doc_id % 13) end")
_BOILER_TEXT_SQL = ("'NAV MENU ' || ({h}) || chr(10) || text || chr(10) "
                    "|| chr(10) || 'copyright ' || ({h})").format(
                        h=_BOILER_HOST_SQL)


def q_host_boilerplate(spark, sf_dir):
    """Per-host boilerplate line removal (corpus.host_boilerplate_removal):
    host-scoped frequency threshold, integer cross-multiplied; blank lines
    and under-evidence hosts exempt."""
    from cloud_data_quality_spark.functions.corpus import (
        host_boilerplate_removal)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"'https://' || ({_BOILER_HOST_SQL}) || '.test/p/' || doc_id"
               ).alias("url"),
        F.expr(_BOILER_TEXT_SQL).alias("text"))
    return host_boilerplate_removal(docs, min_docs=3, max_frac=(1, 2))


def _oracle_host_boilerplate() -> str:
    return f"""
with d as (select doc_id, {_BOILER_HOST_SQL} as h,
                  {_BOILER_TEXT_SQL} as t
           from documents),
l as (select doc_id, h,
             generate_subscripts(string_split(t, chr(10)), 1) - 1 as pos,
             unnest(string_split(t, chr(10))) as ln
      from d),
ph as (select h, count(*)::BIGINT as n from d group by h),
pl as (select h, md5(lower(trim(ln, ' '))) as fp,
              count(distinct doc_id)::BIGINT as dd
       from l where length(trim(ln, ' ')) > 0 group by 1, 2),
bad as (select h, fp from pl join ph using (h)
        where n >= 3 and dd >= 2 and dd * 2 >= n * 1),
kept as (select l.* from l
         anti join bad on l.h = bad.h
                      and md5(lower(trim(l.ln, ' '))) = bad.fp),
re as (select doc_id, string_agg(ln, chr(10) order by pos) as ct,
              count(*)::BIGINT as k
       from kept group by doc_id)
select d.doc_id, coalesce(re.ct, '') as clean_text,
       len(string_split(d.t, chr(10)))::BIGINT as n_lines,
       (len(string_split(d.t, chr(10))) - coalesce(re.k, 0))::BIGINT
         as n_removed
from d left join re using (doc_id)
"""


#: anchor synthesis: one real text anchor per doc (host/text from doc_id
#: arithmetic), plus an empty-body anchor (extracted, then excluded by
#: top_anchors) and an <img> anchor (nested markup — skipped by design).
_ANCHOR_HTML_SQL = (
    "'<p><a href=\"https://t' || (doc_id % 5) || '.test/x\">' || "
    "case doc_id % 3 when 0 then 'Click Here' when 1 then 'Read More' "
    "else 'Widget ' || (doc_id % 4) end || '</a>"
    "<a href=\"https://t1.test/e\"></a>"
    "<a href=\"https://t0.test/i\"><img src=\"x.png\"/></a></p>'")
_TOP_ANCHOR_K = 3


def q_top_anchor_texts(spark, sf_dir):
    """Anchor-text mining (linkgraph.extract_anchor_texts + top_anchors):
    most common anchor texts per TARGET host. The oracle rebuilds the
    expected anchors from doc_id arithmetic, so extraction (incl. the
    skip-nested-markup and drop-empty-anchor contracts) is checked
    end-to-end against ground truth."""
    from cloud_data_quality_spark.functions.linkgraph import (
        extract_anchor_texts,
        top_anchors,
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_ANCHOR_HTML_SQL).alias("html"))
    return top_anchors(extract_anchor_texts(docs), k=_TOP_ANCHOR_K)


def _oracle_top_anchor_texts() -> str:
    return f"""
with a as (select 't' || (doc_id % 5) || '.test' as host,
                  lower(case doc_id % 3 when 0 then 'Click Here'
                        when 1 then 'Read More'
                        else 'Widget ' || (doc_id % 4) end) as anchor
           from documents),
c as (select host, anchor, count(*)::BIGINT as n from a group by 1, 2),
r as (select *, row_number() over (partition by host
                                   order by n desc, anchor asc) as rank
      from c)
select host, anchor, n, rank::INT as rank from r where rank <= {_TOP_ANCHOR_K}
"""


_VOCAB_TOP_N = 20


def q_corpus_vocab(spark, sf_dir):
    """Corpus vocabulary build (corpus.build_vocabulary): top-N tokens by
    frequency with deterministic (freq desc, term asc) rank — the
    tokenizer-prep operator. TakeOrderedAndProject top-N, never a global
    sort; the rank window runs over the already-N-bounded frame."""
    from cloud_data_quality_spark.functions.corpus import build_vocabulary
    docs = _t(spark, sf_dir, "documents").select("text")
    return build_vocabulary(docs, top_n=_VOCAB_TOP_N)


def _oracle_corpus_vocab() -> str:
    toks = OF.sql_tokens("text")
    return f"""
with toks as (select unnest({toks}) as term from documents),
freq as (select term, count(*)::BIGINT as freq from toks group by term),
r as (select term, freq,
             row_number() over (order by freq desc, term asc) as rank
      from freq)
select term, freq, rank::INT as rank from r where rank <= {_VOCAB_TOP_N}
"""


def q_vocab_oov_docs(spark, sf_dir):
    """Per-doc OOV rate against the corpus top-N vocabulary
    (corpus.oov_stats): integer micro-unit fraction, NULL for token-less
    docs. Vocab is broadcast (bounded by top_n); token counts
    partial-aggregate on the doc id."""
    from cloud_data_quality_spark.functions.corpus import (
        build_vocabulary,
        oov_stats,
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = build_vocabulary(docs, top_n=_VOCAB_TOP_N)
    return oov_stats(docs, vocab)


def _oracle_vocab_oov_docs() -> str:
    toks = OF.sql_tokens("text")
    return f"""
with toks as (select doc_id, unnest({toks}) as term from documents),
freq as (select term, count(*)::BIGINT as freq from toks group by term),
vocab as (select term from (
            select term, row_number() over (order by freq desc, term asc)
                   as rank from freq) where rank <= {_VOCAB_TOP_N}),
per as (select t.doc_id, count(*)::BIGINT as n_tokens,
               sum(case when v.term is null then 1 else 0 end)::BIGINT
                 as n_oov
        from toks t left join vocab v using (term) group by t.doc_id)
select d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT as n_tokens,
       coalesce(p.n_oov, 0)::BIGINT as n_oov,
       case when coalesce(p.n_tokens, 0) > 0
            then ((coalesce(p.n_oov, 0) * 1000000) // p.n_tokens)::BIGINT
       end as oov_micro
from documents d left join per p using (doc_id)
"""


#: snapshot synthesis from doc_id arithmetic: old wave misses doc_id%10==0
#: (added later), new wave misses doc_id%7==0 (removed), and every
#: doc_id%5==0 page's text changed between waves.
_SNAP_URL_SQL = "'https://s' || (doc_id % 13) || '.example.com/p/' || doc_id"
_SNAP_NEW_TEXT_SQL = ("case when doc_id % 5 = 0 then text || ' updated'"
                      " else text end")


def q_snapshot_diff(spark, sf_dir):
    """Crawl snapshot diff (hosts.snapshot_diff): per-URL
    added/removed/changed/unchanged across two synthesized crawl waves.
    The oracle replays the wave arithmetic and an is-not-distinct-from
    fingerprint compare — full outer join on uniform url keys."""
    from cloud_data_quality_spark.functions.hosts import snapshot_diff
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SNAP_URL_SQL).alias("url"), "text")
    old = docs.where("doc_id % 10 != 0").select("url", "text")
    new = docs.where("doc_id % 7 != 0").select(
        "url", F.expr(_SNAP_NEW_TEXT_SQL).alias("text"))
    return snapshot_diff(old, new)


def _oracle_snapshot_diff() -> str:
    return f"""
with o as (select {_SNAP_URL_SQL} as url, md5(text) as old_fp, true as in_o
           from documents where doc_id % 10 != 0),
n as (select {_SNAP_URL_SQL} as url,
             md5({_SNAP_NEW_TEXT_SQL}) as new_fp, true as in_n
      from documents where doc_id % 7 != 0)
select coalesce(o.url, n.url) as url,
       case when o.in_o is null then 'added'
            when n.in_n is null then 'removed'
            when o.old_fp is not distinct from n.new_fp then 'unchanged'
            else 'changed' end as status,
       o.old_fp, n.new_fp
from o full outer join n on o.url = n.url
"""


#: line structure synthesized from doc_id arithmetic (the testdata corpus
#: is single-line): a nav strip repeated twice, the lead 40 chars repeated
#: once, one blank line, every 11th doc NULL. Valid in BOTH Spark SQL and
#: DuckDB (substr/chr/|| agree).
_DEDUP_LINES_TEXT_SQL = (
    "case when doc_id % 11 = 0 then null else "
    "substr(text, 1, 40) || chr(10) || 'nav ' || (doc_id % 3) || chr(10) "
    "|| substr(text, 41, 40) || chr(10) || 'nav ' || (doc_id % 3) || "
    "chr(10) || chr(10) || substr(text, 1, 40) || chr(10) || 'footer line'"
    " end")


def q_dedup_lines_docs(spark, sf_dir):
    """Intra-document repeated-line removal (corpus.dedup_lines_in_doc):
    each line keeps only its first occurrence inside its own document,
    blank lines always survive, NULL text stays NULL. Pure per-row Column
    expression — zero shuffle, zero Python."""
    from cloud_data_quality_spark.functions.corpus import dedup_lines_in_doc
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_DEDUP_LINES_TEXT_SQL).alias("text"))
    return dedup_lines_in_doc(docs)


def _oracle_dedup_lines_docs() -> str:
    return f"""
with d as (select doc_id, {_DEDUP_LINES_TEXT_SQL} as text from documents),
s as (select doc_id, text, string_split(text, chr(10)) as arr from d),
k as (select doc_id, text, arr,
             list_filter(arr, (x, i) -> length(x) = 0
                              or list_position(arr, x) = i) as kept
      from s)
select doc_id,
       case when text is null then null
            else array_to_string(kept, chr(10)) end as clean_text,
       (case when text is null then null else len(arr) end)::BIGINT
         as n_lines,
       (case when text is null then null else len(arr) - len(kept)
        end)::BIGINT as n_removed
from k
"""


_MIX_SALT = "tmix"


def q_temperature_mix(spark, sf_dir):
    """Temperature source mixing (corpus.temperature_mix, alpha=0.5): the
    en-heavy documents corpus flattened toward the mT5 sampling rule —
    keep-rate sqrt(n_min/n_lang) per language, md5-threshold
    deterministic. alpha=0.5 keeps every float op IEEE-correctly-rounded
    (sqrt + division only), so the 60-bit thresholds replay bit-exact."""
    from cloud_data_quality_spark.functions.corpus import temperature_mix
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(docs, "lang", alpha=0.5, salt=_MIX_SALT)


def _oracle_temperature_mix() -> str:
    two60 = float(1 << 60)
    return f"""
with counts as (select lang, count(*)::DOUBLE as n
                from documents group by lang),
mn as (select min(n) as m from counts),
rates as (select lang, floor(sqrt(m / n) * {two60!r})::BIGINT as thr
          from counts cross join mn)
select d.doc_id, d.lang from documents d join rates using (lang)
where ('0x' || substr(md5(d.doc_id::VARCHAR || '|{_MIX_SALT}'), 1, 15))
      ::BIGINT < thr
"""


_BM25_TERMS = ("dup", "vector", "spark", "key")
_BM25_K = 15
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (corpus.bm25_topk): top-15 documents for a
    4-term query mixing one rare high-idf term with three common ones.
    Pure-Column term frequencies (no explode), one broadcast stats row,
    TakeOrderedAndProject cut; 4-dp rounding + doc_id tiebreak make the
    cut exact cross-engine."""
    from cloud_data_quality_spark.functions.corpus import bm25_topk
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, list(_BM25_TERMS), k=_BM25_K,
                     k1=_BM25_K1, b=_BM25_B)


def _oracle_bm25_topk() -> str:
    """Constants embedded via repr() so both engines score with the SAME
    doubles (k1+1 computed in Python once, not re-derived from a decimal
    literal that may round differently)."""
    toks = OF.sql_tokens("text")
    k1, k1p1, one_b, b = (repr(_BM25_K1), repr(_BM25_K1 + 1.0),
                          repr(1.0 - _BM25_B), repr(_BM25_B))
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::BIGINT as tf{i}"
        for i, t in enumerate(_BM25_TERMS))
    df_cols = ", ".join(
        f"sum(case when tf{i} > 0 then 1 else 0 end)::BIGINT as df{i}"
        for i in range(len(_BM25_TERMS)))
    terms = " + ".join(
        f"ln(1.0 + (nd - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1p1}) / (tf{i} + {k1} * ({one_b}"
        f" + ({b} * dl) / (sdl::DOUBLE / nd)))"
        for i in range(len(_BM25_TERMS)))
    return f"""
with d as (select doc_id, {toks} as toks from documents
           where text is not null),
s as (select doc_id, len(toks)::BIGINT as dl, {tf_cols} from d),
st as (select count(*)::BIGINT as nd, sum(dl)::BIGINT as sdl, {df_cols}
       from s),
scored as (select doc_id, round({terms}, 4) as score from s cross join st)
select doc_id, score from scored where score > 0
order by score desc, doc_id asc limit {_BM25_K}
"""


#: mojibake synthesis from doc_id arithmetic (the corpus itself is clean
#: ASCII): replacement chars, a zero-width + control pair, typographic
#: punctuation (normalize-dirty but count-clean), every 13th doc NULL.
#: Unicode chars are embedded as literals — valid bytes in BOTH parsers
#: (Spark chr() wraps at 256, so chr(65533) is NOT portable).
_ENC_TEXT_SQL = (
    "case when doc_id % 13 = 0 then null "
    "when doc_id % 4 = 0 then substr(text, 1, 30) || '\ufffd\ufffd' "
    "when doc_id % 4 = 1 then '\u200b' || substr(text, 1, 30) || '\u001f' "
    "when doc_id % 4 = 2 then '\u201cq\u201d \u2014 ' || substr(text, 1, 20) "
    "else text end")


def q_encoding_stats(spark, sf_dir):
    """Encoding hygiene (corpus.encoding_stats): U+FFFD / control /
    zero-width counts + normalize-is-noop flag over a synthesized
    mojibake corpus. Pure Column length-difference counting — zero
    shuffle; classes shared with normalize_text so the stats explain the
    normalizer."""
    from cloud_data_quality_spark.functions.corpus import encoding_stats
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_ENC_TEXT_SQL).alias("text"))
    return encoding_stats(docs)


def _oracle_encoding_stats() -> str:
    from cloud_data_quality_spark.functions.text import (
        NORM_CTRL_RE,
        NORM_ZERO_WIDTH_RE,
    )
    norm = OF.sql_normalize_text("text")
    return f"""
with d as (select doc_id, {_ENC_TEXT_SQL} as text from documents)
select doc_id,
       length(text)::BIGINT as n_chars,
       (length(text) - length(regexp_replace(text, '\\x{{FFFD}}', '', 'g')))
         ::BIGINT as n_replacement,
       (length(text) - length(regexp_replace(text, '{NORM_CTRL_RE}', '', 'g')))
         ::BIGINT as n_ctrl,
       (length(text)
        - length(regexp_replace(text, '{NORM_ZERO_WIDTH_RE}', '', 'g')))
         ::BIGINT as n_zero_width,
       ({norm} = text) as is_normalized
from d
"""


_INV_MAX_DF = 100


def q_inverted_index(spark, sf_dir):
    """Inverted index (corpus.inverted_index): term → df + sorted posting
    list, hot terms (df > cap) kept as df-only truncated rows — the
    containment-style skew defense applied BEFORE any posting list
    materializes. With the word-soup vocabulary most terms truncate and
    the rare 'dup' token carries real postings."""
    from cloud_data_quality_spark.functions.corpus import inverted_index
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(docs, max_df=_INV_MAX_DF)


def _oracle_inverted_index() -> str:
    toks = OF.sql_tokens("text")
    return f"""
with toks as (select doc_id, unnest({toks}) as term from documents),
pairs as (select distinct term, doc_id from toks),
dfreq as (select term, count(*)::BIGINT as df from pairs group by term),
kept as (select term, list(doc_id order by doc_id) as postings
         from pairs
         where term in (select term from dfreq where df <= {_INV_MAX_DF})
         group by term)
select d.term, d.df,
       coalesce(k.postings, []::BIGINT[]) as postings,
       (d.df > {_INV_MAX_DF}) as truncated
from dfreq d left join kept k using (term)
"""


#: sentence punctuation synthesized from doc_id arithmetic (the word-soup
#: corpus has none); every 9th doc NULL.
_READ_TEXT_SQL = ("case when doc_id % 9 = 0 then null else "
                  "substr(text, 1, 80) || case doc_id % 3 "
                  "when 0 then '. The end.' when 1 then '! ok?!' "
                  "else '' end end")


def q_readability_stats(spark, sf_dir):
    """Flesch reading ease (corpus.readability_stats): word/sentence/
    syllable counts + 4-dp score over a corpus with synthesized sentence
    punctuation. Pure Column, zero shuffle; constants repr-shared with
    the oracle."""
    from cloud_data_quality_spark.functions.corpus import readability_stats
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_READ_TEXT_SQL).alias("text"))
    return readability_stats(docs)


def _oracle_readability_stats() -> str:
    from cloud_data_quality_spark.functions.corpus import (
        FLESCH_BASE,
        FLESCH_SENT,
        FLESCH_SYLL,
    )
    toks = OF.sql_tokens("text")
    return f"""
with d as (select doc_id, {_READ_TEXT_SQL} as text from documents),
s as (select doc_id, text, {toks} as toks,
             len(regexp_extract_all(text, '[.!?]+'))::BIGINT as n_sent,
             (len(regexp_extract_all(lower(text), '[aeiouy]+'))
              + len(list_filter({toks},
                    w -> not regexp_matches(lower(w), '[aeiouy]'))))
               ::BIGINT as n_syll
      from d)
select doc_id,
       (case when text is null then null else len(toks) end)::BIGINT
         as n_words,
       n_sent as n_sentences,
       n_syll as n_syllables,
       case when len(toks) > 0 then
         round({FLESCH_BASE!r}
               - {FLESCH_SENT!r} * (len(toks)::DOUBLE
                                    / greatest(n_sent, 1)::DOUBLE)
               - {FLESCH_SYLL!r} * (n_syll::DOUBLE / len(toks)::DOUBLE), 4)
       end as flesch
from s
"""


#: script mixes synthesized from doc_id arithmetic (the corpus is pure
#: ASCII): Cyrillic suffix, CJK-majority page, Arabic-only page, Greek +
#: Devanagari sprinkle, every 10th doc NULL. Unicode as literals (valid
#: bytes in both parsers).
_SCRIPT_TEXT_SQL = (
    "case when doc_id % 10 = 0 then null "
    "when doc_id % 5 = 0 then substr(text, 1, 30) "
    "|| ' \u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440' "
    "when doc_id % 5 = 1 then "
    "'\u4e2d\u6587\u7f51\u9875\u5185\u5bb9\u4e2d\u6587\u7f51"
    "\u9875\u5185\u5bb9 ' || substr(text, 1, 8) "
    "when doc_id % 5 = 2 then "
    "'\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639"
    "\u0627\u0644\u0645' "
    "when doc_id % 5 = 3 then "
    "'\u03b1\u03b2\u03b3 \u0926\u0947\u0935\u0928\u093e\u0917"
    "\u0930\u0940 ok' "
    "else text end")


def q_script_stats(spark, sf_dir):
    """Unicode script profile (corpus.script_stats): per-script character
    counts + dominant script over synthesized multi-script pages. Pure
    Column codepoint-range counting — zero shuffle; the ranges are shared
    constants so the oracle cannot drift."""
    from cloud_data_quality_spark.functions.corpus import script_stats
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SCRIPT_TEXT_SQL).alias("text"))
    return script_stats(docs)


def _oracle_script_stats() -> str:
    from cloud_data_quality_spark.functions.corpus import SCRIPT_RANGES
    cnt = ", ".join(
        f"(length(text) - length(regexp_replace(text, '{rng}', '', 'g')))"
        f"::BIGINT as n_{name}" for name, rng in SCRIPT_RANGES)
    names = [name for name, _ in SCRIPT_RANGES]
    total = " + ".join(f"n_{n}" for n in names)
    greatest = ", ".join(f"n_{n}" for n in names)
    dom = " ".join(
        f"when n_{n} = greatest({greatest}) and n_{n} > 0 then '{n}'"
        for n in names)
    return f"""
with d as (select doc_id, {_SCRIPT_TEXT_SQL} as text from documents),
c as (select doc_id, {cnt} from d)
select doc_id, ({total}) as n_letters,
       {", ".join("n_" + n for n in names)},
       case {dom} end as dominant
from c
"""


_ENUM_SALT = "shuf"


def q_corpus_shuffle_positions(spark, sf_dir):
    """Deterministic corpus shuffle order (selection.global_enumerate):
    every doc gets a stable 1-based training position under the
    md5-derived pseudo-random total order (hash asc, doc_id tiebreak) —
    the reproducible-training-order primitive. Distributed prefix count,
    never a single-partition row_number window."""
    from cloud_data_quality_spark.functions.corpus import sample_hash
    from cloud_data_quality_spark.functions.selection import (
        global_enumerate,
    )
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id")
            .withColumn("__h", sample_hash("doc_id", _ENUM_SALT)))
    out = global_enumerate(docs, ["__h", "doc_id"])
    return out.select("doc_id", "position")


def _oracle_corpus_shuffle_positions() -> str:
    return f"""
select doc_id,
       row_number() over (
         order by ('0x' || substr(md5(doc_id::VARCHAR || '|{_ENUM_SALT}'),
                                  1, 15))::BIGINT asc,
                  doc_id asc)::BIGINT as position
from documents
"""


#: multi-line wave synthesis: three lines from text arithmetic; the new
#: wave rewrites the middle line for doc_id%3==0 and appends a line for
#: doc_id%5==0; every 11th doc NULL text in the old wave.
_LDIFF_OLD_SQL = ("case when doc_id % 11 = 0 then null else "
                  "substr(text, 1, 30) || chr(10) || substr(text, 31, 30)"
                  " || chr(10) || 'footer line' end")
_LDIFF_NEW_SQL = ("substr(text, 1, 30) || chr(10) || "
                  "case when doc_id % 3 = 0 then 'rewritten middle' "
                  "else substr(text, 31, 30) end || chr(10) || "
                  "'footer line' || case when doc_id % 5 = 0 "
                  "then chr(10) || 'fresh addendum' else '' end")


def q_snapshot_line_diff(spark, sf_dir):
    """Line-level crawl revision diff (hosts.snapshot_line_diff):
    added/removed/kept DISTINCT line counts + integer-micro churn per url
    across two synthesized waves. One uniform url-key join, per-row set
    arithmetic."""
    from cloud_data_quality_spark.functions.hosts import snapshot_line_diff
    docs = _t(spark, sf_dir, "documents")
    old = docs.select(F.col("doc_id").alias("url"),
                      F.expr(_LDIFF_OLD_SQL).alias("text"))
    new = docs.select(F.col("doc_id").alias("url"),
                      F.expr(_LDIFF_NEW_SQL).alias("text"))
    return snapshot_line_diff(old, new)


def _oracle_snapshot_line_diff() -> str:
    return f"""
with o as (select doc_id as url,
                  case when {_LDIFF_OLD_SQL.replace("text", "text")} is null
                       then [] else list_distinct(string_split(
                         {_LDIFF_OLD_SQL}, chr(10))) end as ol
           from documents),
n as (select doc_id as url,
             list_distinct(string_split({_LDIFF_NEW_SQL}, chr(10)))
               as nl from documents),
j as (select o.url,
             len(list_filter(nl, x -> not list_contains(ol, x)))::BIGINT
               as n_added,
             len(list_filter(ol, x -> not list_contains(nl, x)))::BIGINT
               as n_removed,
             len(list_filter(nl, x -> list_contains(ol, x)))::BIGINT
               as n_kept
      from o join n using (url))
select url, n_added, n_removed, n_kept,
       (case when n_added + n_kept > 0
             then (n_added * 1000000) // (n_added + n_kept) end)::BIGINT
         as churn_micro
from j
"""


def q_pack_utilization(spark, sf_dir):
    """Packing fill report (packing.pack_utilization): per-pack doc count,
    token total, and budget-fill micro-fraction over the word-tokenizer
    manifest — the waste observability downstream of q_pack_documents.
    One uniform pack-id aggregate; oracle wraps the recursive greedy-pack
    replay and aggregates it identically."""
    from cloud_data_quality_spark.functions.packing import (
        pack_documents,
        pack_utilization,
    )
    manifest = pack_documents(_t(spark, sf_dir, "documents"),
                              budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS)
    return pack_utilization(manifest, budget=_PACK_BUDGET)


def _oracle_pack_utilization() -> str:
    return f"""
with manifest as ({ORACLE_PACK_DOCUMENTS})
select pack_id, count(*)::BIGINT as n_docs,
       sum(n_tokens)::BIGINT as pack_tokens,
       ((sum(n_tokens) * 1000000) // {_PACK_BUDGET})::BIGINT as fill_micro
from manifest group by pack_id
"""


_SHARD_DOCS_PER = 256


def q_shard_manifest_docs(spark, sf_dir):
    """Training-output shard writer (functions/shards.write_shards, r6):
    documents in doc_id order → global positions (selection.
    global_enumerate, no global window) → size-bounded order-preserving
    parquet shards, one file per shard, manifest row per shard. The query
    runs the WRITER end-to-end against a temp dir and returns the
    manifest's deterministic columns (shard id, row count, position span,
    bit_xor 60-bit-md5 content checksum binding each row's POSITION);
    the oracle re-derives every one of them in DuckDB — so the artifact a
    trainer would consume is value-checked, not just the transform.
    `bytes` (filesystem state) stays in the manifest but outside the
    oracle contract."""
    import shutil
    import uuid

    from cloud_data_quality_spark.functions.selection import (
        global_enumerate,
    )
    from cloud_data_quality_spark.functions.shards import write_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ordered = global_enumerate(docs, ["doc_id"])
    out = f"/tmp/cdq_shards_{uuid.uuid4().hex}"
    manifest = write_shards(ordered, out, _SHARD_DOCS_PER,
                            id_col="doc_id", text_col="text")
    res = manifest.select("shard_id", "n_rows", "pos_min", "pos_max",
                          "checksum").localCheckpoint()
    shutil.rmtree(out, ignore_errors=True)
    return res


def _oracle_shard_manifest() -> str:
    return f"""
with ordered as (
  select doc_id, text,
         row_number() over (order by doc_id) as position
  from documents),
h as (
  select ((position - 1) // {_SHARD_DOCS_PER}) as shard_id, position,
         ('0x' || substr(md5(position::VARCHAR || ':' ||
                             doc_id::VARCHAR || ':' ||
                             coalesce(text, chr(0) || 'NULL')),
                         1, 15))::BIGINT as hh
  from ordered)
select shard_id, count(*)::BIGINT as n_rows,
       min(position)::BIGINT as pos_min, max(position)::BIGINT as pos_max,
       bit_xor(hh)::BIGINT as checksum
from h group by shard_id
"""


_MEDIA_MIN_DIM = 64
_MEDIA_MAX_DIM = 512


def q_media_filter_docs(spark, sf_dir):
    """Binary-column curation (multimodal.media_filter, r6): synthesized
    real-header image blobs (same shared hex fragment as image_metadata,
    keyed so every doc_id % 10 == 9 doc carries a byte-identical COPY of
    doc_id-1's blob), gated on decodability + dimension bounds, then
    exact-blob-deduped to the min-id representative. Returns the survivor
    ids with parsed format; the oracle re-derives the survivor set from
    the synthesis arithmetic — gates, NULL-dim INVALID policy, and the
    duplicate collapse all value-checked."""
    from cloud_data_quality_spark.functions.multimodal import media_filter
    frag = _img_blob_hex_sql("hex")
    docs = (_t(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("real_id"),
                    F.expr("case when doc_id % 10 = 9 then doc_id - 1 "
                           "else doc_id end").alias("doc_id"))
            .select("real_id",
                    F.expr(f"unhex({frag})").alias("blob"))
            .withColumnRenamed("real_id", "doc_id"))
    out = media_filter(docs, blob_col="blob", id_col="doc_id",
                       min_dim=_MEDIA_MIN_DIM, max_dim=_MEDIA_MAX_DIM)
    from cloud_data_quality_spark.functions.multimodal import image_metadata
    return (image_metadata(out, blob_col="blob")
            .select("doc_id", "format", "width", "height"))


def _oracle_media_filter() -> str:
    """Survivors from the synthesis arithmetic: blob key k (doc 9 copies
    doc 8), dims w=(k%613)+16 h=((k*7)%509)+16, INVALID when k%11=0,
    format by k%3; gate 64<=dim<=512; dedup keeps min doc_id per blob key
    among gate survivors."""
    return f"""
with keyed as (
  select doc_id,
         case when doc_id % 10 = 9 then doc_id - 1 else doc_id end as k
  from documents),
meta as (
  select doc_id, k,
         (k % 613) + 16 as w, ((k * 7) % 509) + 16 as h,
         case when k % 11 = 0 then 'INVALID'
              when k % 3 = 0 then 'PNG'
              when k % 3 = 1 then 'GIF'
              else 'JPEG' end as format
  from keyed),
gated as (
  select * from meta
  where format <> 'INVALID'
    and w between {_MEDIA_MIN_DIM} and {_MEDIA_MAX_DIM}
    and h between {_MEDIA_MIN_DIM} and {_MEDIA_MAX_DIM}),
kept as (
  select k, min(doc_id) as doc_id from gated group by k)
select g.doc_id, g.format, g.w::INT as width, g.h::INT as height
from gated g join kept using (k, doc_id)
"""


def q_pack_documents_bpe_8k(spark, sf_dir):
    """Sequence packing budgeted by the 8192-merge tokenizer (functions/
    bpe_8k_artifact — trained on 20k pages by the incremental trainer;
    real subword vocabularies run 30-50k merges, and 8192 is this
    fixture's justified cap: ~5k distinct words exhaust fresh pairs not
    far beyond it). Spark side runs the same Arrow memoized encoder as
    the 1024-merge query — its cost is O(distinct words), flat in merge
    count (bench note in test_packing) — while the oracle replays the
    table with the 16-grouped recursive CTE."""
    return q_pack_documents(spark, sf_dir, tokenizer="bpe_8k")


def _oracle_pack_bpe_8k() -> str:
    from cloud_data_quality_spark.functions.bpe_8k_artifact import (
        BPE_MERGES_8K,
    )
    return _oracle_pack_bpe_grouped(BPE_MERGES_8K)


def _warc_synth_sql() -> str:
    """Per-doc 2-record WARC blob synthesis — one SQL fragment evaluated
    by Spark (then cast to binary and fed to the real byte parser).
    Record 1 is always a response; record 2 is a request (parser-filtered)
    on doc_id % 3 = 0 and TRUNCATED mid-header on doc_id % 11 = 0 (the
    parser must return the clean prefix and stop). chr(13)||chr(10)
    literals, never '\\r\\n' (DuckDB string literals don't interpret
    backslash escapes; chr() is identical in both engines)."""
    crlf = "chr(13) || chr(10)"
    uri1 = "'https://h' || (doc_id % 7) || '.example/' || doc_id"
    date1 = ("'2026-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')"
             " || 'T00:00:00Z'")
    pay1 = "'<html>' || repeat('x', doc_id % 40) || doc_id || '</html>'"
    uri2 = uri1 + " || '/p2'"
    date2 = "'2026-02-01T00:00:00Z'"
    pay2 = "'p2-' || doc_id"
    typ2 = "case when doc_id % 3 = 0 then 'request' else 'response' end"

    def rec(typ, uri, date, pay):
        return (f"'WARC/1.0' || {crlf} || "
                f"'WARC-Type: ' || {typ} || {crlf} || "
                f"'WARC-Target-URI: ' || {uri} || {crlf} || "
                f"'WARC-Date: ' || {date} || {crlf} || "
                f"'Content-Length: ' || length({pay})::VARCHAR || {crlf} "
                f"|| {crlf} || {pay} || {crlf} || {crlf}")

    r1 = rec("'response'", uri1, date1, pay1)
    r2 = rec(typ2, uri2, date2, pay2)
    return (f"({r1}) || (case when doc_id % 11 = 0 "
            f"then substr({r2}, 1, 20) else ({r2}) end)")


# DuckDB ::VARCHAR casts spelled cross-engine: Spark accepts ::VARCHAR?
# No — the Spark side rewrites them to cast(... as string) below.


def q_warc_extract_docs(spark, sf_dir):
    """WARC container parsing (functions/warc.warc_records): per-doc
    2-record WARC/1.0 blobs synthesized JVM-side from shared arithmetic
    (record 2 is a request on doc_id%3=0 — type-filtered — and truncated
    mid-header on doc_id%11=0 — the parser must stop cleanly after
    record 1), then parsed from the ACTUAL bytes in the Arrow stage. The
    oracle re-derives every field (uri, date, content length, payload
    sha256) from the synthesis arithmetic, so any parser drift — header
    walk, Content-Length handling, record framing — value-mismatches."""
    from cloud_data_quality_spark.functions.warc import warc_records
    synth = _warc_synth_sql().replace("::VARCHAR", "")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"cast(({synth}) as binary)").alias("warc"))
    recs = warc_records(docs, blob_col="warc", id_col="doc_id",
                        types=("response",))
    return recs.select(
        "doc_id", F.col("record_idx").cast("int").alias("record_idx"),
        "target_uri", "warc_date", "content_length",
        F.sha2(F.col("payload"), 256).alias("payload_sha256"))


def _oracle_warc_extract() -> str:
    return """
with r1 as (
  select doc_id, 0 as record_idx,
         'https://h' || (doc_id % 7) || '.example/' || doc_id as target_uri,
         '2026-01-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
           || 'T00:00:00Z' as warc_date,
         '<html>' || repeat('x', doc_id % 40) || doc_id || '</html>' as p
  from documents),
r2 as (
  select doc_id, 1 as record_idx,
         'https://h' || (doc_id % 7) || '.example/' || doc_id || '/p2'
           as target_uri,
         '2026-02-01T00:00:00Z' as warc_date,
         'p2-' || doc_id as p
  from documents
  where doc_id % 11 <> 0    -- truncated record never parses
    and doc_id % 3 <> 0),   -- request records are type-filtered
u as (select * from r1 union all select * from r2)
select doc_id, record_idx::INT as record_idx, target_uri, warc_date,
       length(p)::BIGINT as content_length,
       sha256(p) as payload_sha256
from u
"""


_HTML_META_SYNTH = """
case when doc_id % 13 = 0 then null else
  '<html><head>'
  || case when doc_id % 4 = 0
          then '<meta name="robots" content="noindex, follow">'
          when doc_id % 4 = 1
          then '<META NAME="robots" CONTENT="NOFOLLOW">'
          else '' end
  || case when doc_id % 5 = 0
          then '<link rel="canonical" href="https://c.example/'
               || doc_id || '">'
          when doc_id % 5 = 1
          then '<link href="https://c2.example/' || doc_id
               || '" rel="canonical">'
          else '' end
  || '</head><body>ok</body></html>' end
"""


def q_html_meta_docs(spark, sf_dir):
    """Robots/canonical page metadata (html_extract.html_meta): noindex /
    nofollow crawl-hygiene flags + the self-declared canonical URL, as
    pure codegen'd Columns over deterministically synthesized html
    (case-mixed robots tags, both canonical attribute orders, NULL html
    rows). The oracle runs the IDENTICAL shared regex constants in
    DuckDB over the identical synthesis — regex-engine parity is the
    thing under test, exactly the extract_text contract."""
    from cloud_data_quality_spark.functions.html_extract import html_meta
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"cast(({_HTML_META_SYNTH}) as binary)").alias("html"))
    return docs.select("doc_id", *html_meta(F.col("html")))


def _oracle_html_meta() -> str:
    from cloud_data_quality_spark.functions.html_extract import (
        CANONICAL_RE_HREF_FIRST,
        CANONICAL_RE_REL_FIRST,
        ROBOTS_META_RE,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    return f"""
with s as (select doc_id, ({_HTML_META_SYNTH}) as html from documents),
m as (select doc_id, html,
             lower(coalesce(regexp_extract(html,
                 '{q(ROBOTS_META_RE)}', 1), '')) as robots,
             coalesce(regexp_extract(html,
                 '{q(CANONICAL_RE_REL_FIRST)}', 1), '') as c1,
             coalesce(regexp_extract(html,
                 '{q(CANONICAL_RE_HREF_FIRST)}', 1), '') as c2
      from s)
select doc_id,
       case when html is null then null
            else contains(robots, 'noindex') end as robots_noindex,
       case when html is null then null
            else contains(robots, 'nofollow') end as robots_nofollow,
       case when length(c1) > 0 then c1
            when length(c2) > 0 then c2 end as canonical_url
from m
"""


def q_robots_filter_docs(spark, sf_dir):
    """robots.txt admission (functions/robots): per-host robots payloads
    synthesized from shared arithmetic — a foreign-agent group (ignored),
    a wildcard rule (documented skip), Disallow /private/ with a LONGER
    Allow /private/open/ override, an even-host-only Disallow /tmp, and
    one host with no robots at all — parsed by the real text parser, then
    the corpus filtered with longest-prefix / Allow-wins-ties semantics.
    The oracle re-derives the admitted set from the arithmetic, so parser
    drift (group structure, comment handling, tie-break) mismatches."""
    from cloud_data_quality_spark.functions.robots import (
        robots_filter,
        robots_rules,
    )
    nl = "chr(10)"
    path = ("case when doc_id % 5 = 0 then '/private/' || doc_id "
            "when doc_id % 5 = 1 then '/public/' || doc_id "
            "when doc_id % 5 = 2 then '/private/open/' || doc_id "
            "when doc_id % 5 = 3 then '/tmp/' || doc_id "
            "else '/' end")
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"'https://h' || (doc_id % 7) || '.example' || ({path})")
        .alias("url"))
    txt = (f"'User-agent: evilbot' || {nl} || 'Disallow: /' || {nl} || "
           f"'# generic crawlers:' || {nl} || "
           f"'User-agent: *' || {nl} || "
           f"'Disallow: /private/' || {nl} || "
           f"'Allow: /private/open/' || {nl} || "
           f"'Disallow: /no*tch' || {nl} || "
           f"(case when i % 2 = 0 then 'Disallow: /tmp' else '' end)")
    robots = (_t(spark, sf_dir, "documents")
              .select((F.col("doc_id") % 7).alias("i")).distinct()
              .where("i < 6")
              .select(F.expr("'h' || i || '.example'").alias("host"),
                      F.expr(txt).alias("robots_txt")))
    rules = robots_rules(robots)
    return robots_filter(pages, rules).select("doc_id", "url")


def _oracle_robots_filter() -> str:
    return """
with p as (
  select doc_id, doc_id % 7 as h, doc_id % 5 as c,
         'https://h' || (doc_id % 7) || '.example' ||
         (case when doc_id % 5 = 0 then '/private/' || doc_id
               when doc_id % 5 = 1 then '/public/' || doc_id
               when doc_id % 5 = 2 then '/private/open/' || doc_id
               when doc_id % 5 = 3 then '/tmp/' || doc_id
               else '/' end) as url
  from documents)
select doc_id, url from p
where not (h < 6 and (c = 0 or (h % 2 = 0 and c = 3)))
"""


CASES: dict[str, Case] = {
    "extract_text_roundtrip":
        (q_extract_text_roundtrip, _oracle_extract_text_roundtrip()),
    "pack_documents": (q_pack_documents, ORACLE_PACK_DOCUMENTS),
    "pack_documents_bpe": (q_pack_documents_bpe, ORACLE_PACK_DOCUMENTS_BPE),
    "pack_documents_bpe_1k":
        (q_pack_documents_bpe_1k, ORACLE_PACK_DOCUMENTS_BPE_1K),
    "pack_documents_bpe_8k": (q_pack_documents_bpe_8k, _oracle_pack_bpe_8k()),
    "text_stats": (q_text_stats, ORACLE_TEXT_STATS),
    "text_langid": (q_text_langid, ORACLE_TEXT_LANGID),
    "text_fingerprint": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
    "pii_scrub": (q_pii_scrub, ORACLE_PII_SCRUB),
    "quality_verdict": (q_quality_verdict, _oracle_quality_verdict()),
    "quality_rollup": (q_quality_rollup, _oracle_quality_rollup()),
    "token_count_by_source":
        (q_token_count_by_source, ORACLE_TOKEN_COUNT_BY_SOURCE),
    "unigram_logprob": (q_unigram_logprob, ORACLE_UNIGRAM_LOGPROB),
    "unigram_logprob_topk":
        (q_unigram_logprob_topk, ORACLE_UNIGRAM_LOGPROB_TOPK),
    "trigram_logprob": (q_trigram_logprob, ORACLE_TRIGRAM_LOGPROB),
    "rollup_quality": (q_rollup_quality, _oracle_rollup_quality()),
    "topk_docs_per_lang": (q_topk_docs_per_lang, ORACLE_TOPK_DOCS_PER_LANG),
    "importance_resample_docs":
        (q_importance_resample_docs, _oracle_importance_resample()),
    "repetition_stats_docs":
        (q_repetition_stats_docs, ORACLE_REPETITION_STATS_DOCS),
    "chunk_documents": (q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
    "decontaminate_docs": (q_decontaminate_docs, ORACLE_DECONTAMINATE_DOCS),
    "stratified_sample_docs":
        (q_stratified_sample_docs, _oracle_stratified_sample()),
    "host_capped_sample": (q_host_capped_sample, _oracle_host_capped_sample()),
    "curation_pipeline_docs":
        (q_curation_pipeline_docs, _oracle_curation_pipeline()),
    "shard_manifest_docs": (q_shard_manifest_docs, _oracle_shard_manifest()),
    "media_filter_docs": (q_media_filter_docs, _oracle_media_filter()),
    "warc_extract_docs": (q_warc_extract_docs, _oracle_warc_extract()),
    "html_meta_docs": (q_html_meta_docs, _oracle_html_meta()),
    "robots_filter_docs": (q_robots_filter_docs, _oracle_robots_filter()),
    "c4_line_filter": (q_c4_line_filter, _oracle_c4_line_filter()),
    "canonical_urls": (q_canonical_urls, _oracle_canonical_urls()),
    "image_metadata": (q_image_metadata, _oracle_image_metadata()),
    "audio_metadata": (q_audio_metadata, _oracle_audio_metadata()),
    "video_metadata": (q_video_metadata, _oracle_video_metadata()),
    "url_revision_dedup": (q_url_revision_dedup, _oracle_url_revision_dedup()),
    "tfidf_top_terms": (q_tfidf_top_terms, _oracle_tfidf_top_terms()),
    "host_pagerank": (q_host_pagerank, _oracle_host_pagerank()),
    "corpus_profile_docs": (q_corpus_profile, _oracle_corpus_profile()),
    "host_quality_prior": (q_host_quality_prior, _oracle_host_quality_prior()),
    "normalize_text_docs": (q_normalize_text, _oracle_normalize_text()),
    "url_hygiene_filter": (q_url_hygiene_filter, _oracle_url_hygiene_filter()),
    "dsir_scores_docs": (q_dsir_scores, _oracle_dsir_scores()),
    "host_boilerplate_docs": (q_host_boilerplate, _oracle_host_boilerplate()),
    "rule_attribution": (q_rule_attribution, _oracle_rule_attribution()),
    "top_anchor_texts": (q_top_anchor_texts, _oracle_top_anchor_texts()),
    "corpus_vocab": (q_corpus_vocab, _oracle_corpus_vocab()),
    "vocab_oov_docs": (q_vocab_oov_docs, _oracle_vocab_oov_docs()),
    "dedup_lines_docs": (q_dedup_lines_docs, _oracle_dedup_lines_docs()),
    "temperature_mix_docs": (q_temperature_mix, _oracle_temperature_mix()),
    "encoding_stats_docs": (q_encoding_stats, _oracle_encoding_stats()),
    "inverted_index_docs": (q_inverted_index, _oracle_inverted_index()),
    "readability_docs": (q_readability_stats, _oracle_readability_stats()),
    "script_stats_docs": (q_script_stats, _oracle_script_stats()),
    "corpus_shuffle_positions":
        (q_corpus_shuffle_positions, _oracle_corpus_shuffle_positions()),
    "snapshot_line_diff_docs":
        (q_snapshot_line_diff, _oracle_snapshot_line_diff()),
    "pack_utilization": (q_pack_utilization, _oracle_pack_utilization()),
    "bm25_topk_docs": (q_bm25_topk, _oracle_bm25_topk()),
    "snapshot_diff_docs": (q_snapshot_diff, _oracle_snapshot_diff()),
    "bpe_tokens": (q_bpe_tokens, _oracle_bpe_tokens()),
    "paragraph_stats_docs": (q_paragraph_stats, _oracle_paragraph_stats()),
    "top_quality_docs": (q_top_quality_docs, ORACLE_TOP_QUALITY),
    "classifier_score_docs":
        (q_classifier_score_docs, _oracle_classifier_score()),
    "token_budget_select":
        (q_token_budget_select, _oracle_token_budget_select()),
    "dataset_split_docs": (q_dataset_split_docs, _oracle_dataset_split()),
    "dup_ngram_stats_docs":
        (q_dup_ngram_stats_docs, _oracle_dup_ngram_stats()),
    "perplexity_buckets_docs":
        (q_perplexity_buckets_docs, _oracle_perplexity_buckets()),
}
