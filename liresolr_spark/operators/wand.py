"""Distributed block-max WAND top-k BM25 over the compressed block index.

Execution model = the Solr sharded collection (ref: AddImages.java:46
`media_shard1_replica1`): the query fans out to every docID-range shard,
each shard runs a block-max top-k kernel locally over its own posting
blocks, and the per-shard top-k's merge to a global top-k — exactly how a
SolrCloud query distributes LireRequestHandler's candidate search
(ref: LireRequestHandler.java:458) across shards.

Within a shard the kernel exploits ALIGNED blocks (block_seq = docID //
block_size for every term, see plans/build._block_builder):

  1. upper bound per docID range r:  UB(r) = sum_t idf_t * max_tf_norm(t, r)
  2. visit ranges in DESCENDING UB order, maintaining the running top-k
     threshold theta (k-th best exact score);
  3. stop as soon as UB(next) <= theta — no remaining range can beat the
     heap. Ranges never visited are never decoded (the WAND saving).
  4. visited ranges are scored exactly & vectorized: decode delta+varint,
     accumulate sum_t idf_t * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) via
     np.bincount on shard-local docIDs.

This is a SAFE optimization: results are exactly the exhaustive top-k
(property-tested in tests/test_wand.py), unlike the reference's lossy
candidate cap of 20000 (LireRequestHandler.java:59).

Spark plan: blocks are partition-pruned to the query's terms (parquet
row-group stats on `term`); the kernel runs as applyInPandas grouped by
shard — one Arrow batch per shard, no driver-side posting materialization,
no shuffle of raw postings. Doclens travel INSIDE each block (codec third
stream, the analog of Lucene per-segment norms), so a query's input is
proportional to the posting lists of its terms — it never scans a
corpus-sized doc-stats table (critical at 10^12 docs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark.functions.codec import decode_block
from liresolr_spark.operators.bm25 import idf_lucene
from liresolr_spark.plans.build import read_meta


def _mask_from_pdf(mask_pdf: pd.DataFrame | None, allow_mode: bool):
    """Per-shard docID restriction from a cogrouped (docID, allow) frame.

    Returns (allow_sorted | None, deny_sorted | None). allow_mode=True means
    an allow-list is ACTIVE globally (fq pushdown): a shard with zero allow
    rows then matches nothing — an empty sorted array, not None."""
    allow = deny = None
    if mask_pdf is not None and len(mask_pdf):
        ids = mask_pdf["docID"].values.astype(np.int64)
        flags = mask_pdf["allow"].values.astype(bool)
        if allow_mode:
            allow = np.sort(ids[flags])
        if (~flags).any():
            deny = np.sort(ids[~flags])
    elif allow_mode:
        allow = np.empty(0, dtype=np.int64)
    return allow, deny


def _in_sorted(ids: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Vectorized membership against a SORTED array via searchsorted —
    O(n log m) with a tight constant (no hash table / no np.isin sort),
    the right kernel since _mask_from_pdf pre-sorts both mask sides."""
    if not len(sorted_arr):
        return np.zeros(len(ids), dtype=bool)
    pos = np.searchsorted(sorted_arr, ids)
    hit = pos < len(sorted_arr)
    hit[hit] = sorted_arr[pos[hit]] == ids[hit]
    return hit


def _apply_mask(ids, scores, allow, deny):
    if allow is None and deny is None:
        return ids, scores
    keep = np.ones(len(ids), dtype=bool)
    if allow is not None:
        keep &= _in_sorted(ids, allow)
    if deny is not None:
        keep &= ~_in_sorted(ids, deny)
    return ids[keep], scores[keep]


def _shard_kernel(idf: dict, k: int, k1: float, b: float, avgdl: float,
                  block_size: int, acc_total=None, acc_visited=None,
                  allow_mode: bool = False):
    """Returns the applyInPandas kernel: (shard's query-term blocks) -> topk.

    acc_total/acc_visited: optional Spark accumulators counting aligned
    docID ranges considered vs actually decoded — the observable WAND
    saving (ranges never visited are never decompressed).

    The kernel optionally takes a second frame (docID, allow) — the
    cogrouped per-shard docID restriction. allow=True rows form an fq
    allow-list (pushed-down filter query: top-k is then exact UNDER the
    filter, ref fq semantics LireRequestHandler.java:539-550); allow=False
    rows are tombstones (docs superseded by a cross-segment overwrite,
    excluded from results but still counted in df/avgdl until compaction —
    exactly Lucene's deleted-docs statistics behavior). Masking happens
    BEFORE the running top-k/theta update, so a filtered doc can never
    displace an eligible one; the block upper bounds remain valid bounds
    for the masked subset, so WAND pruning stays safe."""

    def kernel(blocks: pd.DataFrame, mask_pdf: pd.DataFrame | None = None
               ) -> pd.DataFrame:
        allow, deny = _mask_from_pdf(mask_pdf, allow_mode)
        if len(blocks) == 0:
            return pd.DataFrame({"docID": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        terms = blocks["term"].values
        seqs = blocks["block_seq"].values.astype(np.int64)
        w = np.array([idf[t] for t in terms], dtype=np.float64)
        # avgdl-independent block bound: tf_norm is increasing in tf,
        # decreasing in dl, so tf_norm(max_tf, min_dl) >= every posting's
        # contribution — stays a valid upper bound after segment appends
        # shift the global avgdl (stored max_tf_norm is exact only for the
        # segment's build-time avgdl)
        mtf = blocks["max_tf"].values.astype(np.float64)
        mdl = blocks["min_dl"].values.astype(np.float64)
        ub_contrib = w * mtf * (k1 + 1.0) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl))

        # UB per aligned range
        uniq_seq, inv = np.unique(seqs, return_inverse=True)
        ub = np.bincount(inv, weights=ub_contrib)
        visit_order = np.argsort(-ub, kind="stable")
        # group block rows by range ONCE (argsort + offsets): members of
        # range ri are a contiguous slice — keeps the visit loop
        # O(blocks log blocks), not O(ranges * blocks)
        grp = np.argsort(inv, kind="stable")
        counts = np.bincount(inv, minlength=len(uniq_seq))
        offsets = np.concatenate(([0], np.cumsum(counts)))

        top_ids = np.empty(0, dtype=np.int64)
        top_scores = np.empty(0, dtype=np.float64)
        theta = -np.inf

        docid_col = blocks["docids"].values
        tf_col = blocks["tfs"].values
        dl_col = blocks["doclens"].values

        visited = 0
        for ri in visit_order:
            # prune on STRICT inequality: a range whose bound exactly ties
            # theta may still hold a doc with score == theta and a smaller
            # docID, which outranks the current k-th under the total order
            # (score desc, docID asc)
            if len(top_ids) >= k and ub[ri] < theta:
                break  # no remaining range can beat the k-th result
            visited += 1
            members = grp[offsets[ri]:offsets[ri + 1]]
            ids_all, sc_all = [], []
            for m in members:
                ids, tfs, dls_u = decode_block(
                    bytes(docid_col[m]), bytes(tf_col[m]), bytes(dl_col[m]))
                ids = ids.astype(np.int64)
                tf_f = tfs.astype(np.float64)
                dls = dls_u.astype(np.float64)
                sc = w[m] * tf_f * (k1 + 1.0) / (
                    tf_f + k1 * (1.0 - b + b * dls / avgdl))
                ids_all.append(ids)
                sc_all.append(sc)
            ids_cat = np.concatenate(ids_all)
            sc_cat = np.concatenate(sc_all)
            # restriction BEFORE the heap/theta update: a filtered doc must
            # never occupy a top-k slot or raise theta
            ids_cat, sc_cat = _apply_mask(ids_cat, sc_cat, allow, deny)
            if not len(ids_cat):
                continue
            # accumulate per docID within the range (range is small: <= block_size docs)
            lo = ids_cat.min()
            acc = np.bincount(ids_cat - lo, weights=sc_cat)
            nz = np.nonzero(acc)[0]
            new_ids = nz + lo
            new_scores = acc[nz]
            # merge into running top-k with total order (score desc, docID asc)
            top_ids = np.concatenate([top_ids, new_ids])
            top_scores = np.concatenate([top_scores, new_scores])
            order = np.lexsort((top_ids, -top_scores))[:k]
            top_ids, top_scores = top_ids[order], top_scores[order]
            if len(top_ids) >= k:
                theta = top_scores[-1]

        if acc_total is not None:
            acc_total.add(int(len(uniq_seq)))
            acc_visited.add(int(visited))
        return pd.DataFrame({"docID": top_ids, "score": top_scores})

    return kernel


def _shard_kernel_many(idfs: dict, k: int, k1: float, b: float, avgdl: float,
                       allow_mode: bool = False):
    """Batched variant: Q queries against one shard's blocks in a single
    kernel invocation, fully vectorized TERM-AT-A-TIME exhaustive scoring.

    Why not per-query WAND here: the scan is already restricted to the
    UNION of the batch's query terms (pruned at the parquet scan), every
    hot block is shared by many queries, and profiling showed the Python
    range-visit loop — not decompression or scoring — dominating batch
    latency. So each posting block is decoded exactly once, and scoring is
    a scatter-add of per-term contributions into a dense (Q x shard-docs)
    score matrix (shards are CONTIGUOUS docID ranges by construction, so
    the dense axis is docs_per_shard, not the corpus). Exhaustive scoring
    is trivially exact — same guarantee as WAND, no pruning proof needed.
    Result stays rank-identical to per-query `wand_topk` (pytest-gated).

    Memory guard: the dense matrix is capped at ~512 MB; a batch too large
    for it falls back to per-query bincount accumulation (vector per query,
    never Q x docs). At 10^12 docs docs_per_shard is chosen by the build so
    a shard's dense row (~8 B x docs_per_shard) stays executor-sized.

    Optional second frame = per-shard docID restriction (see _shard_kernel);
    query-independent, applied once at decode."""

    DENSE_BUDGET = 64_000_000  # doubles: Q * span cap (~512 MB)

    def kernel(blocks: pd.DataFrame, mask_pdf: pd.DataFrame | None = None
               ) -> pd.DataFrame:
        allow, deny = _mask_from_pdf(mask_pdf, allow_mode)
        empty = pd.DataFrame({"qid": pd.Series(dtype="object"),
                              "docID": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if len(blocks) == 0:
            return empty
        terms = blocks["term"].values
        docid_col = blocks["docids"].values
        tf_col = blocks["tfs"].values
        dl_col = blocks["doclens"].values

        # decode every block once; group postings per unique term
        uniq_terms, term_codes = np.unique(terms, return_inverse=True)
        ids_by_term: list[np.ndarray] = [None] * len(uniq_terms)
        part_by_term: list[np.ndarray] = [None] * len(uniq_terms)
        for t in range(len(uniq_terms)):
            rows = np.flatnonzero(term_codes == t)
            ids_l, part_l = [], []
            for m in rows:
                ids, tfs, dls_u = decode_block(
                    bytes(docid_col[m]), bytes(tf_col[m]), bytes(dl_col[m]))
                tf_f = tfs.astype(np.float64)
                dls = dls_u.astype(np.float64)
                part = tf_f * (k1 + 1.0) / (
                    tf_f + k1 * (1.0 - b + b * dls / avgdl))
                ids_m, part_m = _apply_mask(
                    ids.astype(np.int64), part, allow, deny)
                ids_l.append(ids_m)
                part_l.append(part_m)
            ids_by_term[t] = np.concatenate(ids_l)
            part_by_term[t] = np.concatenate(part_l)

        lo = min((int(a.min()) for a in ids_by_term if len(a)), default=0)
        hi = max((int(a.max()) for a in ids_by_term if len(a)), default=-1)
        span = hi - lo + 1
        if span <= 0:
            return empty

        qids = list(idfs)
        # per-query weight over the shard's unique terms (0 = not queried)
        W = np.zeros((len(qids), len(uniq_terms)), dtype=np.float64)
        tindex = {t: i for i, t in enumerate(uniq_terms)}
        for qi, qid in enumerate(qids):
            for t, w in idfs[qid].items():
                ti = tindex.get(t)
                if ti is not None:
                    W[qi, ti] = w

        out = []

        def topk_rows(qid, dense):
            # exact top-k under the total order (score desc, docID asc):
            # partition finds the k-th score; ties AT it are filled in
            # ascending docID order (nz is ascending by construction)
            nz = np.flatnonzero(dense)
            if not len(nz):
                return
            sc = dense[nz]
            if len(nz) > k:
                kth = np.partition(sc, len(sc) - k)[len(sc) - k]
                above = np.flatnonzero(sc > kth)
                eq = np.flatnonzero(sc == kth)[:k - len(above)]
                sel = np.concatenate([above, eq])
                nz, sc = nz[sel], sc[sel]
            order = np.lexsort((nz, -sc))[:k]
            out.append(pd.DataFrame({
                "qid": qid, "docID": (nz[order] + lo).astype(np.int64),
                "score": sc[order]}))

        if len(qids) * span <= DENSE_BUDGET:
            scores = np.zeros((len(qids), span), dtype=np.float64)
            for t in range(len(uniq_terms)):
                qs = np.flatnonzero(W[:, t])
                if not len(qs) or not len(ids_by_term[t]):
                    continue
                cols = ids_by_term[t] - lo
                # (|qs| x n_t) outer contribution scattered into the dense
                # matrix — one vectorized op per (term, querying-subset)
                scores[np.ix_(qs, cols)] += (
                    W[qs, t][:, None] * part_by_term[t][None, :])
            for qi, qid in enumerate(qids):
                topk_rows(qid, scores[qi])
        else:
            for qi, qid in enumerate(qids):
                ts = np.flatnonzero(W[qi])
                if not len(ts):
                    continue
                ids_cat = np.concatenate([ids_by_term[t] for t in ts])
                sc_cat = np.concatenate(
                    [W[qi, t] * part_by_term[t] for t in ts])
                if not len(ids_cat):
                    continue
                dense = np.zeros(span, dtype=np.float64)
                np.add.at(dense, ids_cat - lo, sc_cat)
                topk_rows(qid, dense)
        return pd.concat(out, ignore_index=True) if out else empty

    return kernel


def _restrict_df(allow_docids: DataFrame | None,
                 deny_docids: DataFrame | None) -> DataFrame | None:
    """Combine optional allow (fq) / deny (tombstone) docID sets into ONE
    (shard, docID, allow) frame for the cogrouped kernel. Scale note: the
    deny side is tiny (only superseded docs); the allow side is proportional
    to fq selectivity — the pushdown is meant for SELECTIVE filters, exactly
    the case the post-filter silently breaks. At 10^12 docs an unselective
    fq would instead use a per-shard bitmap artifact; the cogroup seam stays
    the same."""
    out = None
    if allow_docids is not None:
        out = allow_docids.select("shard", "docID", F.lit(True).alias("allow"))
    if deny_docids is not None:
        d = deny_docids.select("shard", "docID", F.lit(False).alias("allow"))
        out = d if out is None else out.unionByName(d)
    return out


def _run_shard_kernel(spark, blocks, kernel, schema, num_shards,
                      restrict=None):
    """Dispatch the per-shard kernel with an EXPLICIT hash repartition on
    shard, pinned to min(num_shards, default parallelism).

    Why: the pruned block rows for a query batch are tiny (KB-MB), so
    AQE's partition coalescing folds the pre-kernel shuffle into ONE
    partition and the shard kernels run serially — measured 2x batch
    latency at 32 cores. A user-specified repartition count is exempt from
    AQE coalescing, and hashpartitioning(shard, P) already satisfies the
    kernel's required distribution, so no second shuffle appears. The
    kernel's cost is CPU (decode + score), not data size — parallelism
    should follow shard count, not shuffle bytes."""
    n_parts = max(1, min(int(num_shards), spark.sparkContext.defaultParallelism))
    blocks = blocks.repartition(n_parts, "shard")
    if restrict is None:
        return blocks.groupBy("shard").applyInPandas(
            lambda bl: kernel(bl), schema=schema)
    restrict = restrict.repartition(n_parts, "shard")
    return blocks.groupBy("shard").cogroup(
        restrict.groupBy("shard")
    ).applyInPandas(lambda bl, mk: kernel(bl, mk), schema=schema)


def _idf_by_qid(spark, index_dir, queries: dict, field: str,
                dictionary_df, dictionary_map, meta) -> dict:
    """{qid: {term: idf * qtf}} over the terms the dictionary knows; a qid
    none of whose terms is indexed is left out. df comes from the
    driver-pinned {field: {term: df}} snapshot when given (no Spark job),
    else from one pruned dictionary aggregate summing df across dictionary
    fragments (appended segments each add one — the Lucene multi-segment
    term-dictionary merge)."""
    from collections import Counter

    if dictionary_map is not None:
        dmap = dictionary_map.get(field, {})
    else:
        all_terms = sorted({t for ts in queries.values() for t in ts})
        dictionary = (dictionary_df if dictionary_df is not None
                      else spark.read.parquet(f"{index_dir}/dictionary"))
        rows = (
            dictionary.filter((F.col("field") == field)
                              & F.col("term").isin(all_terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        )
        dmap = {r["term"]: int(r["df"]) for r in rows}
    idfs = {}
    for qid, terms in queries.items():
        m = {t: idf_lucene(meta.n_docs, dmap[t]) * n
             for t, n in Counter(terms).items() if t in dmap}
        if m:
            idfs[qid] = m
    return idfs


def _query_blocks(spark, index_dir, blocks_df, field: str,
                  terms: list[str]) -> DataFrame:
    """The query's posting blocks: partition pruning on shard dirs is
    automatic, parquet row-group stats prune `term`."""
    src = (blocks_df if blocks_df is not None
           else spark.read.parquet(f"{index_dir}/blocks"))
    return src.filter(
        (F.col("field") == field) & F.col("term").isin(terms)
    ).select("shard", "term", "block_seq", "docids", "tfs", "doclens",
             "max_tf", "min_dl")


def wand_topk_many(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = 60,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
    meta=None,
    allow_docids: DataFrame | None = None,
    deny_docids: DataFrame | None = None,
) -> DataFrame:
    """Batched block-max WAND: ALL queries answered in ONE distributed job.

    Returns DataFrame(qid, docID, score) — each qid's rows are its exact
    top-k under (score desc, docID asc). This is the serving-throughput
    path: per-job overhead (scheduling, Python worker round-trip, shuffle
    setup) is paid once for the whole batch instead of per query, and the
    kernel decodes each hot block once for every query that touches it.
    queries: {query_id: [terms...]}."""
    meta = meta or read_meta(index_dir)
    idfs = _idf_by_qid(spark, index_dir, queries, field, dictionary_df,
                       dictionary_map, meta)
    if not idfs:
        return spark.createDataFrame([], "qid string, docID long, score double")
    union_terms = sorted({t for m in idfs.values() for t in m})
    blocks = _query_blocks(spark, index_dir, blocks_df, field, union_terms)

    kernel = _shard_kernel_many(idfs, k, meta.k1, meta.b, meta.avgdl,
                                allow_mode=allow_docids is not None)
    schema = "qid string, docID long, score double"
    per_shard = _run_shard_kernel(
        spark, blocks, kernel, schema, meta.num_shards,
        _restrict_df(allow_docids, deny_docids))
    return _merge_topk_per_qid(per_shard, k)


def _merge_topk_per_qid(per_shard: DataFrame, k: int) -> DataFrame:
    """Global merge of the per-shard candidate rows (<= k per (qid, shard))
    into each qid's exact top-k under (score desc, docID asc) — the last
    barrier of the batched serving path: a hash aggregate collecting each
    qid's candidates into one array, sorted and sliced to k INSIDE the
    aggregate row (sort_array on a (-score, docID) struct), then exploded.
    Per-qid sorts of tiny (<= shards*k) arrays instead of a partition-wide
    sort, and the collect aggregates map-side; a row_number window
    measured within noise of it and a per-qid applyInPandas merge ~1.4x
    slower (BASELINE.md, round-4 notes)."""
    # sort_array ascending on (-score, docID) == (score desc, docID asc)
    merged = per_shard.groupBy("qid").agg(
        F.slice(
            F.sort_array(F.collect_list(
                F.struct((-F.col("score")).alias("_ns"), F.col("docID"),
                         F.col("score")))),
            1, k).alias("_top"))
    ex = merged.select("qid", F.explode("_top").alias("_e"))
    return ex.select("qid", F.col("_e.docID").alias("docID"),
                     F.col("_e.score").alias("score"))


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 60,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
    meta=None,
    stats_out: dict | None = None,
    allow_docids: DataFrame | None = None,
    deny_docids: DataFrame | None = None,
) -> DataFrame:
    """Block-max WAND top-k: returns DataFrame(docID, score), globally exact.

    allow_docids / deny_docids: optional (shard, docID) restriction frames,
    cogrouped into the shard kernel. allow = pushed-down fq (top-k is exact
    UNDER the filter — no candidate-pool recall loss); deny = tombstoned
    docs (cross-segment overwrites). See _shard_kernel.

    blocks_df / dictionary_df / meta: optional pre-loaded handles (a serving
    layer caches these once per index — repeated queries then skip file
    listing and footer reads). dictionary_map, if given, is a driver-side
    {field: {term: df}} snapshot: idf is then computed WITHOUT any Spark
    job. stats_out, if given, receives 'ranges_total' / 'ranges_visited'
    accumulators, valid AFTER the returned DataFrame is acted on — the
    measured WAND pruning saving."""
    meta = meta or read_meta(index_dir)
    idf = _idf_by_qid(spark, index_dir, {0: query_terms}, field,
                      dictionary_df, dictionary_map, meta).get(0)
    if not idf:
        return spark.createDataFrame([], "docID long, score double")
    blocks = _query_blocks(spark, index_dir, blocks_df, field, list(idf))

    acc_total = acc_visited = None
    if stats_out is not None:
        acc_total = spark.sparkContext.accumulator(0)
        acc_visited = spark.sparkContext.accumulator(0)
        stats_out["ranges_total"] = acc_total
        stats_out["ranges_visited"] = acc_visited

    kernel = _shard_kernel(idf, k, meta.k1, meta.b, meta.avgdl,
                           meta.block_size, acc_total, acc_visited,
                           allow_mode=allow_docids is not None)
    schema = "docID long, score double"
    per_shard = _run_shard_kernel(
        spark, blocks, kernel, schema, meta.num_shards,
        _restrict_df(allow_docids, deny_docids))
    # global merge: bounded heap per partition + driver merge (TakeOrderedAndProject)
    return per_shard.orderBy(F.desc("score"), F.asc("docID")).limit(k)
