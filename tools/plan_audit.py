"""Generate PLANS.md: the physical plan of every driver query with a
scale commentary — the ".explain(formatted) and iterate" evidence trail.

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)

For each query we record the operators that matter at 100 TB:
scan pruning (ReadSchema), pushed filters, exchanges (shuffles), joins,
Python boundaries (ArrowEval/MapInPandas/MapInArrow), and codegen spans.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# commentary per query: what the plan SHOULD look like at scale and why
NOTES = {
    "extract_parity": "map-only mapInArrow on scan splits; the only exchange is the driver-determinism orderBy (rangepartitioning). ReadSchema pruned to url+html(+text oracle).",
    "extract_accuracy": "parity checked IN-KERNEL (matches_oracle) — no join; one range exchange for orderBy.",
    "extract_fast": "same shape as extract_accuracy, stream-order kernel.",
    "extract_metadata": "map-only kernel, range exchange for orderBy only.",
    "extract_spans": "1-to-N explode inside the kernel task (no Generate node, no shuffle of blobs); orderBy for determinism.",
    "extract_search": "pushed filter text IS NOT NULL at the scan; map-only match explode in-kernel.",
    "extract_pages": "per-page 1-to-N inside the kernel; map-only + orderBy.",
    "extract_doc_json": "map-only JSON rendering per document.",
    "extract_sql_udf": "ArrowEvalPython (scalar arrow_udf) — vectorized SQL surface; scan pruned to url+html.",
    "extract_features": "map-only kernel; the label/count projection is JVM-side on the kernel output.",
    "extract_markdown": "map-only kernel.",
    "extract_markdown_structured": "map-only kernel (struct-map mode).",
    "media_stats": "map-only sniff kernel.",
    "doc_stats_by_lang": "partial_agg -> exchange on lang -> final agg: classic map-side combine; whole-stage codegen.",
    "recrawl_latest": "one url hash exchange, window row_number inside the partition, rank-1 filter — the standard incremental-crawl upsert shape.",
    "event_windows": "partial agg -> one exchange on (window,type) -> final agg; integer cent-sums; JSON prop extraction JVM-side.",
    "event_sessions": "ONE exchange on user_id; lag + running-sum + session agg all within the partition (sort-based windows).",
    "dedup_summary": "partial distinct-agg then single-partition final: map-side combine keeps the exchange tiny.",
    "minhash_signatures": "MAP-ONLY signatures: array_min(transform(split())) — no explode, no HashAggregate, no hash exchange (plan-guarded).",
    "lsh_buckets": "map-only signatures + ONE exchange on the band key (inherent to bucketing).",
    "token_counts": "pure JVM expressions, whole-stage codegen, no exchange but orderBy.",
    "token_counts_bpe": "regexp_extract_all + higher-order aggregate, all JVM-side.",
    "quality_scores": "pure JVM expressions.",
    "lang_guess": "pure JVM LIKE expressions.",
    "pii_scrub": "regexp_replace chains + regexp_count, all JVM-side; no exchange but the orderBy.",
    "gopher_quality": "composite quality flags from split/regexp arithmetic, JVM-side.",
    "fingerprints": "md5 over normalized text, JVM-side.",
    "embedding_norms": "higher-order array aggregate, JVM-side.",
    "ann_topk": "broadcast of the 1-row query vector (BroadcastNestedLoopJoin over 1 row = a broadcast scalar, not a shuffle); TakeOrderedAndProject for top-k (no global sort).",
    "ann_lsh_buckets": "map-only sign-bit bucketing, one exchange for the bucket count agg.",
    "ann_ivf": "query row broadcast; only the query's cell is scored.",
    "ngram_jaccard_sample": "map-only signatures -> band equi-join (hash, never cartesian) -> distinct -> word-set re-score joins. Sampled (surfaced cap).",
    "neardup_clusters_sample": "large-star/small-star connected components (cc.py:84, O(log^2 n) rounds, localCheckpoint cuts lineage) over LSH-candidate pairs verified at Jaccard>=0.95; min-label propagation kept only as a test cross-check (tests/test_cc.py).",
    "embedding_neardup_sample": "same-label equi-join (cell bucketing), sampled.",
    "simhash": "Arrow-batched kernel (vectorized bit-vote), map-only + orderBy.",
    "media_frames": "1-to-N frame explode inside the kernel task.",
    "media_embed": "map-only deterministic embedding kernel.",
    "audio_stats": "map-only REAL WAV decode (kernel/wav.py) with kernel-side magic filtering; emits rows only for decodable audio payloads.",
    "dedup_exact": "md5 + per-hash row_number window: RANK semantics inherently order within the key, so the window stays — consumers needing only keeper/is_dup at crawl scale should use the salted agg-join pattern (span_dedup), which a 10^9-copy boilerplate page cannot pin.",
    "curation_funnel": "one-row pipeline report card: every metric a conditional aggregate under ONE map-side-combining aggregation over ONE scan — no joins, no windows, no second pass.",
    "unigram_logprob": "min-count floored vocab, hint-free join (AQE sizes it), 1-row total broadcast; scoring join SALTED (round 4: 'the' is ~5% of tokens and AQE cannot split an agg-fed join side).",
    "bigram_logprob": "adjacent pairs map-only via zip_with; bigram/context tables are map-side-combining aggs; both scoring joins hint-free AND salted (hot contexts spread by construction).",
    "span_dedup": "keeper = min(struct) aggregation (map-side combine absorbs hot spans), join back SALTED (round 4): AQE's skew split cannot match an agg-fed join side, so the fact rows carry salt and the 1-row-per-span keeper replicates S=8x — a 10^9-occurrence span spreads by construction.",
    "url_canonicalize": "pure-JVM normalization; group count via agg + SALTED join back (same round-4 skew fix as span_dedup — AQE cannot split an agg-fed join side).",
    "shard_assign": "token-budget sharding via TWO-LEVEL prefix sum: in-bucket windows (splittable, ~corpus/B rows each), a B-row offsets window over the totals agg, offsets broadcast back — never one global sort partition.",
    "warc_http_meta": "file-per-task WARC scan; envelope parsed in the same kernel pass that strips it — zero extra scan; map-only + orderBy.",
    "exif_meta": "map-only APP1/TIFF IFD walk inside the scan task; rows only for JPEGs carrying Exif; no pixel decode.",
    "sitemap_urls": "sitemaps.org ingestion: JVM regexp_extract_all + per-entry field extraction; the only explode is the per-sitemap entry list (protocol-capped at 50k entries/row); no joins.",
    "robots_eval": "RFC 9309: robots parse is a JVM higher-order fold over lines (map-only on the ~10^7-row host table); URL-side evaluation is array filter/max after ONE host join — no per-rule explode.",
    "lexical_stats": "TTR + word entropy via in-row run-length fold over the sorted word array (H = ln n - sum(c ln c)/n) — map-only, never explode+groupBy per token.",
    "html_dense": "jusText-good dense extraction summarized in the scan task (map_rows on mapInArrow, map-only); oracle re-derives the counts from the carried per-block features — two independent paths must agree.",
    "stratified_sample": "language balancing via per-group integer hash thresholds: tiny lang-count agg, 1-row quota broadcast, threshold table broadcast back, map-only filter — the corpus never shuffles.",
    "host_stats": "domain-level spam filtering: ONE host exchange, map-side-combining aggregate (count-distinct partials under the same grouping); no window/self-join — a skewed host stays splittable.",
    "ppl_buckets": "CCNet head/middle/tail tertiles: the cumulative window runs over the rounded-score HISTOGRAM (<=35k rows at any corpus size), never over docs; 1-row total + 1-row thresholds broadcast back; corpus-side join map-only.",
    "html_blocks": "jusText DOM block classification inside the scan task (map_rows on mapInArrow); only tiny block rows cross the Arrow boundary; single range exchange for the determinism orderBy.",
    "flac_meta": "map-only FLAC block walk inside the scan task (kernel/flac.py); rows only for fLaC-magic payloads; no audio-frame decode.",
    "ogg_meta": "map-only CRC-verified Ogg page walk inside the scan task (kernel/ogg.py); rows only for OggS-magic payloads; no packet decode.",
    "tiff_meta": "map-only standalone-TIFF IFD walk inside the scan task (kernel/tiff.py); rows only for II*/MM*-magic payloads; no strip decode.",
    "docx_meta": "map-only DOCX package walk inside the scan task (kernel/ziparc.py central directory + kernel/docx.py WordprocessingML parse); rows only for PK-magic packages naming word/document.xml; the extracted text itself rides the extraction family via extract_any dispatch.",
    "epub_meta": "map-only EPUB spine walk inside the scan task (kernel/ziparc.py + kernel/epub.py container/OPF/chapter chain); rows only for PK-magic packages naming META-INF/container.xml; spine-ordered text rides the extraction family via extract_any dispatch.",
    "xlsx_meta": "map-only SpreadsheetML walk inside the scan task (kernel/ziparc.py + kernel/xlsx.py workbook/rels/sharedStrings chain); rows only for PK-magic packages naming xl/workbook.xml; sheet text rides the extraction family via extract_any dispatch.",
    "pptx_meta": "map-only PresentationML walk inside the scan task (kernel/ziparc.py + kernel/pptx.py presentation/rels/slide chain); rows only for PK-magic packages naming ppt/presentation.xml; slide text rides the extraction family via extract_any dispatch.",
    "rtf_meta": "map-only RTF tokenizer inside the scan task (kernel/rtf.py control-word walk, codepage + \\uN decode, destination skipping); rows only for {\\rtf-magic payloads; visible text rides the extraction family via extract_any dispatch.",
    "structured_data": "pure-JVM schema.org/OpenGraph mining inside WholeStageCodegen (cast + regexp_extract/regexp_count, zero Python, zero joins); one range exchange for determinism only — scan-shaped at 100 TB.",
    "image_phash": "map-only Arrow-batched perceptual hashing on the pruned (url, html) scan: kernel PNG decode + integer aHash/dHash per batch; interlace gate is an IHDR-byte predicate, not a carried column; range exchange for determinism only.",
    "image_neardup": "hamming-LSH band join over the phash table: 4x16-bit bands posexploded map-side, candidates via (band, value) equi-join (bucketed, never all-pairs), DISTINCT collapse, bit_count(xor) verify — the standard LSH shape; the signature table is localCheckpoint-materialized so the image decode runs ONCE, not once per self-join side, and only (url, 2x int64) rows feed the join; a degenerate hot bucket is checkpoint-fed and AQE-splittable.",
    "odt_meta": "map-only OpenDocument walk inside the scan task (kernel/ziparc.py + kernel/odt.py mimetype-gated content.xml paragraph walk); text rides the extraction family via extract_any dispatch.",
    "feed_meta": "pure-JVM RSS/Atom mining inside WholeStageCodegen (cast + regexp_extract/regexp_count, zero Python); one range exchange for determinism only.",
    "warc_cdx": "CDX(J) index generation in the SAME file-per-task pass as ingestion: SURT/timestamp/digest/member-span computed in the scan task; only index rows cross the Arrow boundary; range exchange for the urlkey determinism orderBy (at CC scale this is the index's required sort, done once).",
    "line_dedup": "line-granularity keeper = min(struct) aggregation (map-side combine absorbs a 10^9-occurrence boilerplate line), join back SALTED (AQE cannot split an agg-fed join side — measured r4); only (line,url,idx) rows shuffle, blobs stay in the scan.",
    "host_template": "CCNet per-host boilerplate stripping: line document-frequency and host doc counts by aggregation (map-side combine; host counts return BROADCAST), the agg-fed template set joins back SALTED (same measured-r4 rationale as line_dedup), per-doc reassembly is array_sort over collect_list — NO window, so a 10^9-page host's banner never pins a sort partition.",
    "bitext_candidates": "URL-pattern bitext mining: the language-stripped key self-join shuffles only (key, doc_id, lang, n_words) rows — word counts are map-side, text never enters an exchange; per-key cardinality is bounded by a site's language count, so no skewed key exists by construction (plan-guarded).",
    "host_token_budget": "per-domain token-budget capping via the shard_assign two-level prefix sum: (host, hash-prefix-bucket) totals aggregate map-side, a tiny host-partitioned window prefixes the 16 buckets, offsets return BROADCAST, and the per-doc running sum windows only within (host, bucket) — never one window per host (plan-guarded: both window specs include bkt or run over the aggregate).",
    "dsir_weights": "DSIR hashed-unigram importance: two B=128-row histograms (map-side combined), B-row smoothed log-ratio table BROADCAST to the per-doc-bucket fact side — the deliberately-skewed bucket key never hash-partitions the fact; per-doc weighted sum is one groupBy.",
    "quality_linear": "fastText-shape linear classifier where weight = f(hash bucket): the WHOLE model evaluates map-only in whole-stage codegen (transform/aggregate over the in-row token array) — no explode, no join, no model broadcast; zero exchanges beyond the determinism orderBy.",
    "host_pagerank": "K=3 damped power iterations, GraphX/Pregel shape in DataFrames: per iteration ONE map-side-combining groupBy(dst) exchange + rank-table join; localCheckpoint per iteration truncates lineage (plan shows only the FINAL iteration + degree joins); 1-row host count broadcast, no collect.",
    "anchor_text": "per-target anchor-text rollup: anchors mined JVM-side in the scan task (bounded explode), then TWO map-side-combining groupBys — (dst,text) counts, per-dst totals with the top pick via max(struct) — no window, no collect_list; a 10^9-in-link page is a hot-but-splittable scan-fed key.",
    "content_drift": "capture-pair change detection: gram fingerprinting map-only per row; ONE doc_id window (per-doc cardinality = capture count) pairs captures via lag; the exchange carries 16-hex gram hashes, never text.",
    "badwords_filter": "C4 blocklist gate: in-plan literal list + in-row higher-order membership filter — entirely inside the scan project / whole-stage codegen; zero exchanges at any corpus size (plan-guarded).",
    "charset_report": "kernel charset lineage via map_rows (mapInArrow) on the pruned (url, html) scan — map-only Arrow boundary, single range exchange for the determinism orderBy.",
    "mojibake_fix": "generic latin1->utf8 re-decode gated on two JVM regex predicates — whole repair inside the scan project, no Python, no exchange (plan-guarded).",
    "postings": "search-index dictionary build: explode -> groupBy(term,doc) combine -> groupBy(term) with the top posting via max(struct) — an agg, never a per-term row_number window; df>=2 floor keeps the Zipf hapax tail off the final exchange.",
    "unicode_normalize": "NFC canonical composition via map_rows (mapInArrow, Python unicodedata) on the pruned scan — map-only Arrow boundary, single range exchange for the determinism orderBy; oracle is DuckDB's native utf8proc nfc_normalize (independent engines).",
    "fetch_schedule": "frontier politeness: ONE host exchange + a row_number window partitioned by host (frontier queues are politeness-depth-bounded, exactly why this window is safe); md5-derived priorities/delays so DuckDB replays them; worker = hash(host) keeps a host on one fetcher.",
    "sentence_stats": "sentence-level quality signals as pure in-row higher-order expressions (regex split + transform/aggregate) — map-only, zero exchanges at any corpus size (plan-guarded).",
    "sequence_pack": "training-sequence packing manifest: the shard_assign two-level prefix sum (bucket-partitioned running sums + a B-row exclusive prefix + broadcast-back) gives every doc its global token offset without a global sort; the L=128 span math is per-row codegen. Plan-guarded to exactly two windows with the unpartitioned one fed by the B-row aggregate.",
    "snapshot_delta": "crawl-over-crawl URL diff: each snapshot projects to (key, md5) inside its own scan, so the full-outer hash join shuffles 16-byte digests — document bodies never leave the scan (plan-guarded: no text in any exchange key set); per-key cardinality is the snapshot count, so no skewed key exists by construction.",
    "eml_meta": "map-only MIME parse on map_rows (mapInArrow) on the pruned (url, html) scan; one range exchange for the determinism orderBy — the per-format meta shape.",
    "mbox_meta": "map-only archive census (the tar shape): blobs never shuffle, one range exchange for orderBy.",
    "subtitle_meta": "map-only cue parse on the pruned scan; one range exchange for orderBy.",
    "ipynb_meta": "map-only JSON cell census; one range exchange for orderBy. The oracle side re-mines with DuckDB's JSON engine — no carried truth.",
    "csv_meta": "map-only RFC 4180 state machine on the pruned scan; the strict consistency sniff runs inside the same task (no second pass); one range exchange for orderBy.",
    "tex_meta": "map-only detex + regex mining; one range exchange for orderBy; metadata regexes identical in both engines.",
    "font_meta": "map-only header census on the pruned scan; one range exchange for orderBy; glyph data never read.",
    "c4_filters": "the published C4 line/page rules as in-row higher-order expressions — pure JVM inside whole-stage codegen, zero Python, single determinism range exchange (plan-guarded).",
    "url_features": "pre-fetch URL filter signals as pure JVM regexp/array arithmetic — map-only, single determinism range exchange.",
    "hll_host_distinct": "mergeable HLL sketch: one (ridx,rho) pair per url (no explode), partial-agg-capped (host,ridx) exchange of hosts*m tiny rows, exact-integer harmonic sum post-agg; the countDistinct truth side is TEST-scale accuracy evidence only.",
    "cms_token_freq": "Count-Min sketch: word explode (inherent to tokenization) -> d cells via posexplode, partial agg caps the shuffle at d*w counter rows per partition (vocabulary-independent); probes are broadcast lookups + d-way min; the exact top-20 truth side is TEST-scale accuracy evidence only.",
    "kl_host_shift": "domain-shift monitor on AGGREGATE outputs only: (host,word) and word counts map-side combine before their exchanges (bounded by vocab, not corpus), one word-key join between the two aggregates, tiny broadcast totals; KL terms nano-quantized to integers so the sum is partition-order-free.",
    "encryption_stats": "map-only kernel (decrypting the empty-password Standard-handler class in-batch) + one partial-agg exchange of <=4 boolean groups — nothing scales with doc count past the scan.",
    "length_quantiles": "mergeable equi-width length histogram (map-side combine caps the shuffle at hosts*256 counters); the percentile walk is a window over the BOUNDED histogram, never over docs (plan-guarded); all-integer arithmetic, no float quantile semantics.",
}


def stable_ids(plan: str) -> str:
    """Renumber the expression ids (``#N``), the exchange ``plan_id=N``
    and the lambda variables (``lambda x_N``) of one plan in order of
    first appearance. Spark hands all three out JVM-wide, so raw ids
    shift with everything planned before: one more lambda in an early
    query would otherwise rewrite the plan of every later one."""
    for prefix in ("#", "plan_id="):
        ids: dict = {}
        plan = re.sub(re.escape(prefix) + r"(\d+)",
                      lambda m: prefix + str(ids.setdefault(m.group(1),
                                                            len(ids))),
                      plan)
    names: dict = {}
    return re.sub(r"(lambda (\w+)_)(\d+)\b",
                  lambda m: m.group(1) + str(names.setdefault(
                      (m.group(2), m.group(3)), len(names))),
                  plan)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from zpdfspark.spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(4, "plan-audit", shuffle_partitions=4)
    out = ["# PLANS — physical-plan audit of every driver query",
           "",
           f"Generated by `python tools/plan_audit.py {sf_dir}`. For each",
           "query: the operators that matter at 100 TB — scan pruning,",
           "pushed filters, exchanges, joins, Python boundaries, codegen —",
           "plus the full formatted plan. The pytest plan guards",
           "(tests/test_plans.py) pin the load-bearing properties.", ""]
    try:
        for name, fn in E.queries().items():
            df = fn(spark, sf_dir)
            plan = stable_ids(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
            ops = []
            for pat, label in (
                (r"Arguments: hashpartitioning", "hash exchange"),
                (r"Arguments: rangepartitioning", "range exchange (orderBy)"),
                (r"Arguments: SinglePartition", "single-partition exchange"),
                (r"\(\d+\) SortMergeJoin", "sort-merge join"),
                (r"\(\d+\) BroadcastHashJoin", "broadcast hash join"),
                (r"\(\d+\) BroadcastNestedLoopJoin", "broadcast NL join"),
                (r"\(\d+\) CartesianProduct", "CARTESIAN (bad)"),
                (r"\(\d+\) (?:PythonMapInArrow|MapInArrow)", "mapInArrow kernel"),
                (r"\(\d+\) (?:FlatMapGroupsInPandas|MapInPandas)", "mapInPandas kernel"),
                (r"\(\d+\) ArrowEvalPython", "scalar arrow_udf"),
                (r"\(\d+\) BatchEvalPython", "ROW-WISE PYTHON (bad)"),
                (r"\(\d+\) HashAggregate", "hash aggregate"),
                (r"\(\d+\) ObjectHashAggregate", "object hash aggregate"),
                (r"\(\d+\) TakeOrderedAndProject", "top-k (no global sort)"),
                (r"\(\d+\) Generate", "JVM explode"),
                (r"\(\d+\) Window", "window"),
                (r"\[codegen id :", "codegen span"),
            ):
                hits = len(re.findall(pat, plan))
                if hits:
                    ops.append(f"{label} ×{hits}")
            read = re.findall(r"ReadSchema: (.*)", plan)
            pushed = re.findall(r"PushedFilters: (\[.*?\])", plan)
            out.append(f"## {name}")
            out.append("")
            if name in NOTES:
                out.append(f"**Scale shape**: {NOTES[name]}")
                out.append("")
            out.append(f"**Operators**: {', '.join(ops) or 'scan+project only'}")
            if read:
                out.append(f"**ReadSchema**: `{read[0].strip()}`" +
                           (f" (+{len(read) - 1} more scans)" if len(read) > 1 else ""))
            if pushed and any(p != "[]" for p in pushed):
                out.append(f"**PushedFilters**: `{[p for p in pushed if p != '[]']}`")
            out.append("")
            out.append("<details><summary>full plan</summary>")
            out.append("")
            out.append("```")
            out.append(plan.strip())
            out.append("```")
            out.append("</details>")
            out.append("")
            print(f"[done] {name}: {', '.join(ops)}")
    finally:
        spark.stop()
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
