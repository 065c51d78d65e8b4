"""Dedup + similarity queries/oracles (driver-contract surface).

Exact/minhash/simhash/n-gram/containment dedup, embedding pairs, ANN
(brute-force, LSH, IVF), span/substring dedup document rewrites, and the
incremental cross-run dedup stores. Paired DuckDB oracles follow each query,
and the CASES table at the end registers each pair; see plans/registry.py for
the conventions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_data_quality_spark.functions import text as TX
from cloud_data_quality_spark.functions.dedup import (
    exact_duplicates,
    embedding_cosine_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bands,
    simhash_pairs,
)
from cloud_data_quality_spark.functions.similarity import (
    brute_force_topk_np,
    lsh_bucketed_neighbors,
)
from cloud_data_quality_spark.plans import oracle_fragments as OF
from cloud_data_quality_spark.plans.base import Case, _t

# --------------------------------------------------------------------------
# Dedup / similarity queries
# --------------------------------------------------------------------------

def q_dedup_exact_prefix(spark, sf_dir):
    """Exact-dup groups keyed on normalized 40-char prefix fingerprint (the
    documents corpus has no full-text dups; prefix collisions stand in).
    sample_ids is the capped member sample (10 smallest ids) — the full
    member list is never materialized in any aggregation buffer, so a hot
    fingerprint (viral boilerplate at web scale) cannot OOM an executor."""
    df = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text"))
    return exact_duplicates(df, text_col="text", id_col="doc_id").select(
        "fp", F.col("dup_count").cast("bigint").alias("dup_count"),
        F.array_join(F.transform("sample_ids", lambda x: x.cast("string")),
                     ",").alias("sample_ids"))


ORACLE_DEDUP_EXACT_PREFIX = """
select md5(lower(trim(substr(text, 1, 40), ' '))) as fp, count(*)::BIGINT as dup_count,
       array_to_string(list_sort(list(doc_id))[1:10], ',') as sample_ids
from documents group by 1 having count(*) > 1
"""


def q_minhash_pairs(spark, sf_dir):
    # broadcast_verify: test-scale corpora fit comfortably; at 10^9 docs the
    # caller leaves it False and the verify join shuffles
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                             text_col="text", id_col="doc_id",
                             n=3, k=8, jaccard_threshold=0.5,
                             broadcast_verify=True)


ORACLE_MINHASH_PAIRS = f"""
with d as (
  select doc_id, {OF.sql_word_shingles('text', 3)} as sh from documents),
d2 as (select doc_id,
              list_transform(list_sort(list_transform(sh, s -> md5(s))),
                             h -> ('0x' || substr(h, 1, 15))::BIGINT) as hs,
              (list_sort(list_transform(sh, s -> md5(s))))[1:8] as sig
       from d where len(sh) >= 1),
buckets as (select doc_id, unnest(sig) as h from d2),
cand as (select distinct a.doc_id as id_a, b.doc_id as id_b
         from buckets a join buckets b using (h) where a.doc_id < b.doc_id),
joined as (select id_a, id_b, x.hs as sh_a, y.hs as sh_b
           from cand join d2 x on x.doc_id = id_a join d2 y on y.doc_id = id_b)
select id_a, id_b,
       round(len(list_intersect(sh_a, sh_b))::DOUBLE /
             nullif(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)), 0),
             6) as jaccard
from joined
where round(len(list_intersect(sh_a, sh_b))::DOUBLE /
            nullif(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)), 0),
            6) >= 0.5
"""


def q_minhash_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash pair list
    (pairs chain: A~B, B~C ⇒ one {A,B,C} cluster). The oracle replays the
    identical pair derivation, then closes it with a recursive CTE."""
    from cloud_data_quality_spark.functions.dedup import duplicate_clusters
    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                              text_col="text", id_col="doc_id",
                              n=3, k=8, jaccard_threshold=0.5,
                              broadcast_verify=True).select("id_a", "id_b")
    labels = duplicate_clusters(pairs)
    return (labels.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.array_join(
                     F.transform(F.array_sort(F.collect_list("id")),
                                 lambda x: x.cast("string")), ",")
                  .alias("member_ids")))


_ORACLE_MINHASH_PAIRS_CTES = ORACLE_MINHASH_PAIRS.strip().removeprefix(
    "with ").rsplit("select id_a", 1)


ORACLE_MINHASH_CLUSTERS = f"""
with recursive {_ORACLE_MINHASH_PAIRS_CTES[0]},
pr as (select id_a{_ORACLE_MINHASH_PAIRS_CTES[1]}),
edges as (select id_a as a, id_b as b from pr
          union select id_b, id_a from pr),
reach as (select a as n, b as m from edges
          union
          select r.n, e.b from reach r join edges e on r.m = e.a),
labels as (select n as id, least(n, min(m)) as cluster_id
           from reach group by n)
select cluster_id, count(*)::BIGINT as n_members,
       array_to_string(list_sort(list(id)), ',') as member_ids
from labels group by cluster_id
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                               text_col="text", id_col="doc_id",
                               n=3, jaccard_threshold=0.3, length_bucket=32)


ORACLE_NGRAM_JACCARD_PAIRS = f"""
with d as (
  select doc_id, {OF.sql_word_shingles('text', 3)} as sh,
         floor(length(text) / 32) as lb
  from documents),
d2 as (select * from d where len(sh) >= 1),
cand as (select a.doc_id id_a, b.doc_id id_b, a.sh sh_a, b.sh sh_b
         from d2 a join d2 b
           on a.doc_id < b.doc_id and abs(a.lb - b.lb) <= 1)
select id_a, id_b,
       round(len(list_intersect(sh_a, sh_b))::DOUBLE /
             nullif(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)), 0),
             6) as jaccard
from cand
where round(len(list_intersect(sh_a, sh_b))::DOUBLE /
            nullif(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)), 0),
            6) >= 0.3
"""


def q_embedding_pairs(spark, sf_dir):
    return embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"),
                                  vec_col="embedding", id_col="vec_id",
                                  threshold=0.4)


ORACLE_EMBEDDING_PAIRS = """
with p as (
  select a.vec_id id_a, b.vec_id id_b,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])),
                0) as c
  from embeddings a join embeddings b on a.vec_id < b.vec_id)
select id_a, id_b, round(c, 6) as cosine from p where round(c, 6) >= 0.4
"""


def q_ann_topk(spark, sf_dir):
    # BLAS path — element-wise identical to the JVM brute_force_topk
    # (pytest-asserted) and ~7x faster; the DuckDB oracle checks the values
    emb = _t(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("probe_id"), "embedding"))
    return brute_force_topk_np(emb, probes, k=5)


ORACLE_ANN_TOPK = """
with probes as (select vec_id probe_id, embedding pe from embeddings where vec_id < 10),
scored as (
  select probe_id, e.vec_id neighbor_id,
         list_dot_product(pe::DOUBLE[], e.embedding::DOUBLE[]) /
         nullif(sqrt(list_dot_product(pe::DOUBLE[], pe::DOUBLE[]))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])),
                0) as c
  from probes, embeddings e where e.vec_id != probe_id),
ranked as (select probe_id, neighbor_id, c,
                  row_number() over (partition by probe_id
                                     order by c desc, neighbor_id asc) as rank
           from scored)
select probe_id, neighbor_id, rank::INT as rank, round(c, 6) as cosine
from ranked where rank <= 5
"""


_SIMHASH_MAX_HAMMING = 6
# band layout derived exactly as simhash_pairs derives it (n_bands =
# max_hamming+1 → pigeonhole-complete); generated into the oracle predicate
# from the same helper so Spark and DuckDB can't drift
_SIMHASH_BAND_PRED = "\n    or ".join(
    f"((a.sh >> {off}) & {(1 << w) - 1}) = ((b.sh >> {off}) & {(1 << w) - 1})"
    for off, w in simhash_bands(_SIMHASH_MAX_HAMMING + 1))


def q_simhash_pairs(spark, sf_dir):
    """60-bit SimHash near-dup pairs (banded candidates, exact hamming
    verify; n_bands derived = max_hamming+1 so the candidate set is
    pigeonhole-complete). The oracle replays the full bit-vote in SQL:
    hex→BIGINT via '0x' cast, per-bit votes over distinct tokens, the SAME
    generated band-share predicate, bit_count(xor) hamming."""
    return simhash_pairs(_t(spark, sf_dir, "documents"),
                         text_col="text", id_col="doc_id",
                         max_hamming=_SIMHASH_MAX_HAMMING)


ORACLE_SIMHASH_PAIRS = f"""
with d as (select doc_id, list_distinct({OF.sql_tokens('text')}) as toks
           from documents where text is not null),
tok as (select doc_id, unnest(toks) as w from d),
h as (select doc_id,
             ('0x' || substr(md5(w), 1, 15))::BIGINT as hv from tok),
bits as (select doc_id, i,
                sum(case when (hv >> i) & 1 = 1 then 1 else -1 end) as vote
         from h, range(0, 60) t(i) group by 1, 2),
sh as (select doc_id,
              sum(case when vote > 0 then (1::BIGINT << i) else 0 end) as sh
       from bits group by 1)
select a.doc_id as id_a, b.doc_id as id_b,
       bit_count(xor(a.sh, b.sh))::INT as hamming
from sh a join sh b on a.doc_id < b.doc_id
where ({_SIMHASH_BAND_PRED})
  and bit_count(xor(a.sh, b.sh)) <= {_SIMHASH_MAX_HAMMING}
"""


def q_lsh_ann(spark, sf_dir):
    """LSH ANN — approximate w.r.t. BRUTE FORCE (recall asserted in pytest),
    but fully DETERMINISTIC given its hyperplanes, so it has an exact value
    oracle: the generated DuckDB SQL embeds the very same plane constants
    and replays bucketing → candidate join → cosine → rank identically."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("probe_id"), "embedding"))
    return lsh_bucketed_neighbors(emb, probes, k=5, n_planes=4, n_tables=8)


def _oracle_lsh_ann(k: int = 5, n_planes: int = 4, n_tables: int = 8,
                    dim: int = 64, seed: int = 7) -> str:
    """DuckDB replay of lsh_bucketed_neighbors, generated from the SAME
    hyperplane constants the Spark plan uses (similarity._hyperplanes), so
    the two sides cannot drift: repr(float64) round-trips exactly, the
    sign-bit signatures use the same left-to-right double dot product, and
    ranking uses the same (cosine desc, neighbor_id) order."""
    from cloud_data_quality_spark.functions.similarity import _hyperplanes
    sig_exprs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        bits = " || ".join(
            "(case when list_dot_product(v, ["
            + ", ".join(repr(float(x)) for x in p)
            + "]) >= 0 then '1' else '0' end)"
            for p in planes)
        sig_exprs.append(f"'t{t}:' || {bits}")
    sigs = ",\n    ".join(sig_exprs)
    return f"""
with emb as (select vec_id, embedding::DOUBLE[] as v from embeddings),
b as (select vec_id, v, unnest([
    {sigs}
  ]) as bucket from emb),
pb as (select vec_id as probe_id, v as pv, bucket from b where vec_id < 10),
cand as (select distinct probe_id, cb.vec_id as neighbor_id, pv, cb.v as cv
         from pb join b cb using (bucket) where cb.vec_id != probe_id),
scored as (select probe_id, neighbor_id,
                  list_dot_product(pv, cv) /
                  nullif(sqrt(list_dot_product(pv, pv))
                       * sqrt(list_dot_product(cv, cv)), 0) as c
           from cand),
ranked as (select probe_id, neighbor_id, c,
                  row_number() over (partition by probe_id
                                     order by c desc, neighbor_id asc) as rank
           from scored)
select probe_id, neighbor_id, rank::INT as rank, round(c, 6) as cosine
from ranked where rank <= {k}
"""


_CONT_N, _CONT_THR, _CONT_MAX_DF = 3, 0.9, 50
_CONT_QUOTE_WORDS = 8


def q_containment_pairs(spark, sf_dir):
    """Directed near-containment (Broder containment coefficient) via a
    DF-capped shingle inverted index. The corpus is documents plus a
    synthesized 8-word 'quote' of each doc (negative-id namespace) — every quote is
    fully contained in its source, so the detector must find the directed
    (quote → source) pairs Jaccard would miss."""
    from cloud_data_quality_spark.functions.dedup import containment_pairs
    docs = _t(spark, sf_dir, "documents")
    # quote ids live in the NEGATIVE namespace — collision-proof against
    # real doc_ids at any scale factor (an additive offset would collide
    # once the table exceeds the offset)
    quotes = docs.select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.array_join(F.slice(TX.tokens(F.col("text")), 1,
                             _CONT_QUOTE_WORDS), " ").alias("text"))
    corpus = docs.select("doc_id", "text").unionAll(quotes)
    return containment_pairs(corpus, n=_CONT_N,
                             containment_threshold=_CONT_THR,
                             max_shingle_df=_CONT_MAX_DF)


def _oracle_containment_pairs() -> str:
    toks = OF.sql_tokens("text")
    sh = OF.sql_word_shingles("text", _CONT_N)
    return f"""
with corpus as (
  select doc_id, text from documents
  union all
  select -doc_id - 1 as doc_id,
         array_to_string(({toks})[1:{_CONT_QUOTE_WORDS}], ' ') as text
  from documents),
s as (select doc_id as id, {sh} as sh from corpus where text is not null),
e as (select id, unnest(sh) as s from s),
rare as (select s from e group by s having count(*) <= {_CONT_MAX_DF}),
f as (select e.id, e.s from e join rare using (s)),
sizes as (select id, len(sh) as n_sh from s where len(sh) > 0),
common as (select a.id as inner_id, b.id as outer_id,
                  count(*) as n_common
           from f a join f b using (s)
           where a.id != b.id group by 1, 2)
select inner_id, outer_id, n_common::BIGINT as n_common,
       round(n_common / sz.n_sh::DOUBLE, 6) as containment
from common join sizes sz on sz.id = common.inner_id
where round(n_common / sz.n_sh::DOUBLE, 6) >= {_CONT_THR}
"""



def q_span_dedup_docs(spark, sf_dir):
    """C4-style cross-document span dedup (functions/corpus.span_dedup):
    3-word chunks, each distinct span survives only at its corpus-wide
    smallest (doc_id, pos); documents reassembled from surviving spans.
    The oracle replays the identical canonical-occurrence rule with a
    window (oracle-side only — the Spark plan is a groupBy struct-min)."""
    from cloud_data_quality_spark.functions.corpus import span_dedup
    return span_dedup(_t(spark, sf_dir, "documents"),
                      text_col="text", id_col="doc_id", chunk_words=3)


ORACLE_SPAN_DEDUP_DOCS = f"""
with s0 as (select doc_id, {OF.sql_tokens('text')} as words from documents),
spans as (
  select doc_id, g.i - 1 as pos,
         array_to_string(words[(g.i-1)*3+1:(g.i-1)*3+3], ' ') as span
  from s0 cross join unnest(generate_series(1, ((len(words)+2)//3)::INT)) as g(i)),
nz as (select doc_id, pos, span, md5(lower(trim(span, ' '))) as fp
       from spans where length(trim(span, ' ')) > 0),
flagged as (select *,
                   (row_number() over (partition by fp
                                       order by doc_id, pos)) = 1 as kept
            from nz)
select doc_id,
       coalesce(string_agg(span, ' ' order by pos) filter (where kept), '')
         as text_deduped,
       count(*)::BIGINT as n_spans,
       (count(*) filter (where kept))::BIGINT as n_spans_kept
from flagged group by doc_id
"""


def q_substring_dedup_docs(spark, sf_dir):
    """Exact duplicated-substring removal at arbitrary offsets
    (functions/corpus.substring_dedup — the word-granular ExactSubstr of
    Lee et al. 2022): every overlapping 5-word shingle keeps only its
    corpus-wide canonical occurrence; non-canonical windows are cut and
    documents reassembled from the surviving words."""
    from cloud_data_quality_spark.functions.corpus import substring_dedup
    return substring_dedup(_t(spark, sf_dir, "documents"),
                           text_col="text", id_col="doc_id", k=5)


_SUBSTR_K = 5

ORACLE_SUBSTRING_DEDUP_DOCS = f"""
with s0 as (select doc_id, {OF.sql_tokens('text')} as words from documents),
base as (select doc_id, words from s0 where len(words) > 0),
sh as (select doc_id, g.i - 1 as pos,
              md5(lower(trim(array_to_string(
                words[g.i:g.i+{_SUBSTR_K - 1}], ' '), ' '))) as fp
       from base cross join
         unnest(generate_series(1, greatest(len(words) - {_SUBSTR_K} + 1, 0)))
           as g(i)),
dups as (select doc_id, pos from (
          select doc_id, pos,
                 row_number() over (partition by fp order by doc_id, pos) as rn
          from sh) t where rn > 1),
covered as (select distinct doc_id, pos + g.i as wpos
            from dups cross join
              unnest(generate_series(0, {_SUBSTR_K - 1})) as g(i)),
w as (select doc_id, g.i - 1 as wpos, words[g.i] as word
      from base cross join unnest(generate_series(1, len(words))) as g(i))
select w.doc_id,
       coalesce(string_agg(w.word, ' ' order by w.wpos)
                filter (where c.wpos is null), '') as text_deduped,
       count(*)::BIGINT as n_words,
       (count(*) filter (where c.wpos is null))::BIGINT as n_words_kept
from w left join covered c on c.doc_id = w.doc_id and c.wpos = w.wpos
group by w.doc_id
"""



def q_incremental_dedup_docs(spark, sf_dir):
    """Cross-run incremental dedup (functions/corpus.incremental_dedup):
    the 'previously seen' store is the fingerprints of the doc_id%7==0
    slice (standing in for all prior crawl waves); the wave is the whole
    corpus on 40-char prefix fingerprints (prefix collisions stand in for
    exact dups). Survivors = within-wave min-id canonicals whose
    fingerprint is new."""
    from cloud_data_quality_spark.functions.corpus import incremental_dedup
    wave = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("text"))
    seen = (wave.where(F.col("doc_id") % 7 == 0)
            .select(F.md5(F.lower(F.trim("text"))).alias("fp")).distinct())
    return incremental_dedup(wave, seen).select("doc_id", "fp")


ORACLE_INCREMENTAL_DEDUP_DOCS = """
with w as (select doc_id, md5(lower(trim(substr(text, 1, 40), ' '))) as fp
           from documents),
seen as (select distinct fp from w where doc_id % 7 = 0),
canon as (select fp, min(doc_id) as doc_id from w group by fp)
select doc_id, fp from canon where fp not in (select fp from seen)
"""


_INC_MINHASH_K = 8
_INC_MINHASH_THRESHOLD = 0.5
_INC_MINHASH_STORE_MOD = 5  # doc_id % 5 == 0 slice stands in for history


def q_incremental_minhash_docs(spark, sf_dir):
    """Cross-run NEAR-dup dedup (corpus.incremental_minhash_dedup): the
    'history' is the band rows of the doc_id%5==0 slice (standing in for
    all prior crawl waves, persisted by SeenMinhashStore); the wave is the
    rest of the corpus. Wave docs whose bottom-k Jaccard estimate against
    any historical doc reaches 0.5 are dropped — catching the
    boilerplate-tweaked recrawls an exact-fingerprint store misses."""
    from cloud_data_quality_spark.functions.corpus import (
        incremental_minhash_dedup, minhash_band_rows)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = minhash_band_rows(docs.where(
        F.col("doc_id") % _INC_MINHASH_STORE_MOD == 0), k=_INC_MINHASH_K)
    wave = docs.where(F.col("doc_id") % _INC_MINHASH_STORE_MOD != 0)
    out = incremental_minhash_dedup(
        wave, store, k=_INC_MINHASH_K,
        jaccard_threshold=_INC_MINHASH_THRESHOLD)
    return out.select("doc_id")


# sketch + estimator replayed from the SAME constants: bottom-k of sorted
# md5 hex digests, truncated to 60-bit longs (hex sort order == numeric
# order of the truncation); estimator = |K_k(A∪B) ∩ A ∩ B| / |K_k(A∪B)|
ORACLE_INCREMENTAL_MINHASH_DOCS = f"""
with d as (
  select doc_id, {OF.sql_word_shingles('text', 3)} as sh from documents),
d2 as (select doc_id,
              list_transform(
                (list_sort(list_transform(sh, s -> md5(s))))[1:{_INC_MINHASH_K}],
                h -> ('0x' || substr(h, 1, 15))::BIGINT) as sig
       from d where len(sh) >= 1),
store as (select doc_id as sid, sig as sig_b, unnest(sig) as h from d2
          where doc_id % {_INC_MINHASH_STORE_MOD} = 0),
wave as (select doc_id, sig, unnest(sig) as h from d2
         where doc_id % {_INC_MINHASH_STORE_MOD} != 0),
cand as (select distinct w.doc_id, w.sig, s.sid, s.sig_b
         from wave w join store s using (h)),
matched as (
  select distinct doc_id from cand
  where len(list_intersect(
              (list_sort(list_distinct(sig || sig_b)))[1:{_INC_MINHASH_K}],
              list_intersect(sig, sig_b)))::DOUBLE
        / nullif(len((list_sort(list_distinct(sig || sig_b)))[1:{_INC_MINHASH_K}]), 0)
        >= {_INC_MINHASH_THRESHOLD})
select doc_id from documents
where doc_id % {_INC_MINHASH_STORE_MOD} != 0
  and doc_id not in (select doc_id from matched)
"""



def q_ivf_ann(spark, sf_dir):
    """IVF ANN (functions/similarity.ivf_topk): corpus bucketed by nearest
    k-means centroid (offline-trained artifact, functions/ivf_artifact),
    probes search their 4 nearest cells. Approximate vs brute force (recall
    pytest-gated) but deterministic given the centroids → exact value
    oracle, like lsh_ann."""
    from cloud_data_quality_spark.functions.ivf_artifact import (
        IVF_CENTROIDS_64,
    )
    from cloud_data_quality_spark.functions.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("probe_id"), "embedding"))
    return ivf_topk(emb, probes, IVF_CENTROIDS_64, k=5, n_probe=4)


def _oracle_ivf_ann(k: int = 5, n_probe: int = 4) -> str:
    """DuckDB replay of ivf_topk from the SAME centroid artifact: per-cell
    score |c|²−2·v·c with the identical left-to-right double dot product,
    ties by centroid index, probe cells by (score, index) rank."""
    from cloud_data_quality_spark.functions.ivf_artifact import (
        IVF_CENTROIDS_64,
    )
    import numpy as np
    cells = []
    for i, c in enumerate(IVF_CENTROIDS_64):
        lits = ", ".join(repr(float(x)) for x in c)
        c2 = repr(float(np.dot(c, c)))
        cells.append(f"({i}, {c2} - 2 * list_dot_product(v, [{lits}]))")
    cell_rows = ",\n      ".join(cells)
    return f"""
with emb as (select vec_id, embedding::DOUBLE[] as v from embeddings),
scores as (
  select vec_id, v, s.i as cell, s.d
  from emb cross join lateral (
    select * from (values
      {cell_rows}
    ) as t(i, d)) s),
assigned as (
  select vec_id, v, cell from (
    select *, row_number() over (partition by vec_id order by d, cell) as rn
    from scores) where rn = 1),
probe_cells as (
  select vec_id as probe_id, v as pv, cell from (
    select *, row_number() over (partition by vec_id order by d, cell) as rn
    from scores where vec_id < 10) where rn <= {n_probe}),
cand as (select probe_id, a.vec_id as neighbor_id, pv, a.v as cv
         from probe_cells p join assigned a using (cell)
         where a.vec_id != p.probe_id),
scored as (select probe_id, neighbor_id,
                  list_dot_product(pv, cv) /
                  nullif(sqrt(list_dot_product(pv, pv))
                       * sqrt(list_dot_product(cv, cv)), 0) as c
           from cand),
ranked as (select probe_id, neighbor_id, c,
                  row_number() over (partition by probe_id
                                     order by c desc, neighbor_id asc) as rank
           from scored)
select probe_id, neighbor_id, rank::INT as rank, round(c, 6) as cosine
from ranked where rank <= {k}
"""


_SEMDEDUP_THRESHOLD = 0.92


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (similarity.semantic_dedup): k-means cells from the offline
    IVF centroid artifact, intra-cell cosine >= threshold drops every doc
    dominated by a smaller same-cell id. The corpus is embeddings plus an
    IDENTICAL copy of every vec_id % 7 == 0 vector in the negative-id
    namespace — each copy (smaller id) must evict its original, while the
    natural corpus (max pairwise cosine ~0.48) survives untouched."""
    from cloud_data_quality_spark.functions.ivf_artifact import (
        IVF_CENTROIDS_64,
    )
    from cloud_data_quality_spark.functions.similarity import semantic_dedup
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (emb.where(F.col("vec_id") % 7 == 0)
              .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding"))
    return semantic_dedup(emb.unionAll(copies), IVF_CENTROIDS_64,
                          threshold=_SEMDEDUP_THRESHOLD)


def q_semantic_dedup_np(spark, sf_dir):
    """The Arrow GEMM twin of `semantic_dedup_docs` (similarity.
    semantic_dedup_np, r6): identical cell assignment in Spark, intra-cell
    cosine as ONE float64 dgemm per cell group instead of a per-pair
    interpreted fold (same-epoch A/B: 11.8× at ~500-row cells). Shares
    the JVM path's DuckDB oracle — the twin is element-wise pinned in
    pytest AND value-checked by the driver here, so summation-order drift
    can never silently diverge the keep set."""
    from cloud_data_quality_spark.functions.ivf_artifact import (
        IVF_CENTROIDS_64,
    )
    from cloud_data_quality_spark.functions.similarity import (
        semantic_dedup_np,
    )
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = (emb.where(F.col("vec_id") % 7 == 0)
              .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding"))
    return semantic_dedup_np(emb.unionAll(copies), IVF_CENTROIDS_64,
                             threshold=_SEMDEDUP_THRESHOLD)


def _oracle_semantic_dedup() -> str:
    """DuckDB replay from the SAME centroid artifact as _oracle_ivf_ann
    (identical |c|^2 - 2*v*c cell scores, ties by centroid index) plus the
    same round-6-then-compare cosine contract as semantic_dedup."""
    import numpy as np

    from cloud_data_quality_spark.functions.ivf_artifact import (
        IVF_CENTROIDS_64,
    )
    cells = []
    for i, c in enumerate(IVF_CENTROIDS_64):
        lits = ", ".join(repr(float(x)) for x in c)
        c2 = repr(float(np.dot(c, c)))
        cells.append(f"({i}, {c2} - 2 * list_dot_product(v, [{lits}]))")
    cell_rows = ",\n      ".join(cells)
    return f"""
with corpus as (
  select vec_id, embedding::DOUBLE[] as v from embeddings
  union all
  select -vec_id - 1 as vec_id, embedding::DOUBLE[] as v
  from embeddings where vec_id % 7 = 0),
scores as (
  select vec_id, v, s.i as cell, s.d
  from corpus cross join lateral (
    select * from (values
      {cell_rows}
    ) as t(i, d)) s),
assigned as (
  select vec_id, v, cell from (
    select *, row_number() over (partition by vec_id order by d, cell) as rn
    from scores) where rn = 1),
drops as (
  select distinct a.vec_id
  from assigned a join assigned b using (cell)
  where b.vec_id < a.vec_id
    and round(list_dot_product(a.v, b.v) /
              nullif(sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v)), 0),
              6) >= {_SEMDEDUP_THRESHOLD})
select c.vec_id, c.cell::INT as cell, (d.vec_id is null) as keep
from assigned c left join drops d using (vec_id)
"""


def q_quantized_ann(spark, sf_dir):
    """Int8-quantized brute-force cosine top-k (similarity.
    quantized_topk): corpus-scale symmetric quantization, EXACT bigint
    dot/norm arithmetic, float only at the final divide (6 dp). The
    oracle replays every step — quantization included — bit-for-bit."""
    from cloud_data_quality_spark.functions.similarity import quantized_topk
    emb = _t(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("probe_id"), "embedding"))
    return quantized_topk(emb, probes, k=5)


ORACLE_QUANTIZED_ANN = """
with amax as (select max(list_max(list_transform(embedding::DOUBLE[],
                                                 x -> abs(x)))) as m
              from embeddings where embedding is not null),
q as (select vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> round(x * sc.s)::BIGINT) as qv
      from embeddings, (select 127.0 / m as s from amax) sc
      where embedding is not null),
probes as (select vec_id as probe_id, qv as pq from q where vec_id < 10),
scored as (
  select probe_id, e.vec_id as neighbor_id,
         round(list_sum(list_transform(pq, (x, i) -> x * e.qv[i]))::DOUBLE
               / nullif(sqrt(list_sum(list_transform(pq, x -> x * x))
                             ::DOUBLE)
                        * sqrt(list_sum(list_transform(e.qv, x -> x * x))
                               ::DOUBLE), 0), 6) as cos_sim
  from probes, q e where e.vec_id != probe_id),
ranked as (select probe_id, neighbor_id, cos_sim,
                  row_number() over (partition by probe_id
                                     order by cos_sim desc,
                                              neighbor_id asc) as rank
           from scored)
select probe_id, neighbor_id, cos_sim, rank::INT as rank
from ranked where rank <= 5
"""


def q_best_rep_dedup(spark, sf_dir):
    """Near-dup dedup keeping the BEST cluster member (longest text,
    min-id tiebreak) instead of min-id — what production pipelines keep
    from a near-dup group (dedup.dedup_near_duplicates score_col path).
    The oracle replays pair derivation, the recursive-CTE closure, and
    the argmax choice."""
    from cloud_data_quality_spark.functions.dedup import (
        dedup_near_duplicates,
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, text_col="text", id_col="doc_id",
                              n=3, k=8, jaccard_threshold=0.5,
                              broadcast_verify=True).select("id_a", "id_b")
    scored = docs.withColumn("__len", F.length("text"))
    out = dedup_near_duplicates(scored, pairs, score_col="__len")
    return out.select("doc_id",
                      F.col("__len").cast("bigint").alias("n_chars"))


ORACLE_BEST_REP_DEDUP = f"""
with recursive {_ORACLE_MINHASH_PAIRS_CTES[0]},
pr as (select id_a{_ORACLE_MINHASH_PAIRS_CTES[1]}),
edges as (select id_a as a, id_b as b from pr
          union select id_b, id_a from pr),
reach as (select a as n, b as m from edges
          union
          select r.n, e.b from reach r join edges e on r.m = e.a),
labels as (select n as id, least(n, min(m)) as cluster_id
           from reach group by n),
scored as (select lab.id, lab.cluster_id, length(d.text) as l
           from labels lab join documents d on lab.id = d.doc_id),
reps as (select id from (
           select id, row_number() over (partition by cluster_id
                      order by l desc nulls last, id asc) as rn
           from scored) where rn = 1),
losers as (select id from labels where id not in (select id from reps))
select d.doc_id, length(d.text)::BIGINT as n_chars from documents d
where d.doc_id not in (select id from losers)
"""


CASES: dict[str, Case] = {
    "dedup_exact_prefix": (q_dedup_exact_prefix, ORACLE_DEDUP_EXACT_PREFIX),
    "minhash_pairs": (q_minhash_pairs, ORACLE_MINHASH_PAIRS),
    "minhash_clusters": (q_minhash_clusters, ORACLE_MINHASH_CLUSTERS),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD_PAIRS),
    "embedding_pairs": (q_embedding_pairs, ORACLE_EMBEDDING_PAIRS),
    "ann_topk": (q_ann_topk, ORACLE_ANN_TOPK),
    "simhash_pairs": (q_simhash_pairs, ORACLE_SIMHASH_PAIRS),
    "lsh_ann": (q_lsh_ann, _oracle_lsh_ann()),
    "span_dedup_docs": (q_span_dedup_docs, ORACLE_SPAN_DEDUP_DOCS),
    "substring_dedup_docs":
        (q_substring_dedup_docs, ORACLE_SUBSTRING_DEDUP_DOCS),
    "incremental_dedup_docs":
        (q_incremental_dedup_docs, ORACLE_INCREMENTAL_DEDUP_DOCS),
    "incremental_minhash_docs":
        (q_incremental_minhash_docs, ORACLE_INCREMENTAL_MINHASH_DOCS),
    "ivf_ann": (q_ivf_ann, _oracle_ivf_ann()),
    "semantic_dedup_docs": (q_semantic_dedup, _oracle_semantic_dedup()),
    "semantic_dedup_np_docs": (q_semantic_dedup_np, _oracle_semantic_dedup()),
    "quantized_ann_topk": (q_quantized_ann, ORACLE_QUANTIZED_ANN),
    "best_rep_dedup_docs": (q_best_rep_dedup, ORACLE_BEST_REP_DEDUP),
    "containment_pairs": (q_containment_pairs, _oracle_containment_pairs()),
}
