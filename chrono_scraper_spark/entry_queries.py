"""Driver-contract query registry: every operator as a (Spark fn, DuckDB
oracle SQL) pair.

``__spark_entry__.py`` exposes these through ``queries()`` / ``oracle_sql()``.
Each Spark callable runs the ENGINE operators (chrono_scraper_spark.*) over
the driver's parquet tables at ``sf_dir``; each oracle is independent ANSI
SQL for DuckDB over the same tables (views pre-registered by the driver).
Column names/types are aligned pairwise — the driver hash-compares values
after sorting columns by name.

The crawl-family queries run over the *oracle-parity CDX corpus*
(corpus.PAGES_CTE_*): a deterministic frontier derived from ``documents`` by
an identical SQL template on both engines, so every crawl operator
(filters, dedup, politeness, ordering, analytics) is value-checkable
end-to-end.
"""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from chrono_scraper_spark.queries.q_crawl import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_analytics import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_events import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_textdocs import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_search import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_facts import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_embed import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_star import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_extract_ann import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_quality import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_graph_sketch import *  # noqa: F401,F403
from chrono_scraper_spark.queries.q_topics import *  # noqa: F401,F403

# compat re-export: __spark_entry__.entry builds on the scheduled frontier
from chrono_scraper_spark.queries._shared import _scheduled  # noqa: F401

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # bpe_merges is rows-only (iterative argmax is not
    # single-SQL-expressible; python-twin parity tests hold its
    # correctness).
    "gopher_quality": q_gopher_quality,
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "boilerplate_strip": q_boilerplate_strip,
    "unigram_logprob": q_unigram_logprob,
    "host_authority": q_host_authority,
    "winnow_fingerprint": q_winnow_fingerprint,
    "warc_identity": q_warc_identity,
    "dedup_clusters": q_dedup_clusters,
    "lm_buckets": q_lm_buckets,
    "fulltext_ranked": q_fulltext_ranked,
    "fasttext_quality": q_fasttext_quality,
    "mix_rebalance": q_mix_rebalance,
    "exact_substring_removal": q_exact_substring_removal,
    "dsir_sample": q_dsir_sample,
    "semdedup": q_semdedup,
    "events_sessionize": q_events_sessionize,
    "line_dedup": q_line_dedup,
    "pack_sequences": q_pack_sequences,
    "asof_join": q_asof_join,
    "seen_antijoin_cuckoo": q_seen_antijoin_cuckoo,
    "crawl_diff": q_crawl_diff,
    "dedup_keep_best": q_dedup_keep_best,
    "wordpiece_encode": q_wordpiece_encode,
    "pii_redact": q_pii_redact,
    "url_blocklist": q_url_blocklist,
    "pack_emit": q_pack_emit,
    "vocab_topk": q_vocab_topk,
    "shard_assign": q_shard_assign,
    "surt_cdxj": q_surt_cdxj,
    "redirect_resolve": q_redirect_resolve,
    "page_changes": q_page_changes,
    "robots_wildcard": q_robots_wildcard,
    "authority_budgets": q_authority_budgets,
    "readability": q_readability,
    "bigram_logprob": q_bigram_logprob,
    "bpe_merges": q_bpe_merges,
    "recrawl_schedule": q_recrawl_schedule,  # new this round: freshness-
    # driven revisit policy (change-rate × staleness)
    "bm25_rank": q_bm25_rank,  # new this round: Okapi BM25 relevance
    "link_extract": q_link_extract,  # new this round: href/anchor parsing
    "anchor_texts": q_anchor_texts,  # new this round: per-target anchors
    "sitemap_discover": q_sitemap_discover,  # new this round: sitemap
    # parsing + lastmod recrawl candidacy
    "wet_identity": q_wet_identity,  # new this round: WET conversion
    # record writer+parser round-trip
    "url_traps": q_url_traps,  # new this round: crawl-trap URL flags
    # --- variants and staples whose family is covered above; every one
    # runs through scripts/check_oracles.py ---
    "exact_substring_spans": q_exact_substring_spans,  # removal's core
    "dedup_clusters_star": q_dedup_clusters_star,  # same oracle as
    # dedup_clusters
    "change_stats": q_change_stats,          # page_changes rollup
    "content_evolution": q_content_evolution,  # page_changes timeline
    "host_traps": q_host_traps,      # traps family host-level aggregate
    "unicode_clean": q_unicode_clean,  # new: NFC + invisible-char pass
    "frontier_priority": q_frontier_priority,  # capstone fusion of the
    # authority + staleness + trap families (each covered above)
    "frontier_priority_opic": q_frontier_priority_opic,  # the same
    # fusion with OPIC authority (cold-start spider member)
    "hits": q_hits,  # Kleinberg hubs & authorities (graph family)
    "url_tree": q_url_tree,  # hierarchical path-prefix rollup
    "quantile_sketch": q_quantile_sketch,  # mergeable log2-bin quantiles
    "hll_distinct": q_hll_distinct,  # mergeable deterministic HLL
    "links_nofollow": q_links_nofollow,  # rel=nofollow link flags
    "meta_robots": q_meta_robots,  # page-level REP directives
    "rel_canonical": q_rel_canonical,  # author-declared canonical URLs
    "saved_query_match": q_saved_query_match,  # standing-search alerts
    "cms_host_counts": q_cms_host_counts,  # mergeable count-min sketch
    "surt_collapse": q_surt_collapse,  # canonical-URL dedup on SURT keys
    "latest_captures": q_latest_captures,  # current-view collapse (newest)
    "mime_sniff": q_mime_sniff,  # magic-byte content sniffing + dispatch
    "soft404_detect": q_soft404_detect,  # error pages served with 200
    "feed_discover": q_feed_discover,  # RSS/Atom parsing + freshness
    "adaptive_budgets": q_adaptive_budgets,  # AIMD politeness budgets
    "latest_postings": q_latest_postings,  # current-view index restriction
    "opic": q_opic,  # on-line page importance (cash/history rounds)
    "wat_identity": q_wat_identity,  # WAT metadata record round-trip
    "pct_normalize": q_pct_normalize,  # RFC 3986 escape normalization
    "script_profile": q_script_profile,  # Unicode-script composition
    "compression_ratio": q_compression_ratio,  # zlib quality signal
    # (rows-only: zlib has no SQL twin — python-twin parity in tests)
    "filter_decisions": q_filter_decisions,
    "robots_rules": q_robots_rules,
    "daily_stats": q_daily_stats,
    "exact_dups": q_exact_dups,
    "crawl_order": q_crawl_order,
    "extraction_identity": q_extraction_identity,
    "embedding_near_dups": q_embedding_near_dups,
    "collapse_digest": q_collapse_digest,
    "registry_categorize": q_registry_categorize,
    "politeness_schedule_pruned": q_politeness_schedule_pruned,
    "url_parts": q_url_parts,
    "cdx_analytics": q_cdx_analytics,
    "status_percentiles": q_status_percentiles,
    "interval_merge": q_interval_merge,
    "gap_detect": q_gap_detect,
    "events_tumbling": q_events_tumbling,
    "doc_stats": q_doc_stats,
    "langid": q_langid,
    "facet_counts": q_facet_counts,
    "entity_extract": q_entity_extract,
    "ann_topk_lsh": q_ann_topk_lsh,
    "simhash_pairs": q_simhash_pairs,
    "hybrid_source": q_hybrid_source,
    "minhash_pairs": q_minhash_pairs,
    "fulltext_proximity": q_fulltext_proximity,
    "seen_antijoin_bloom_bucketed": q_seen_antijoin_bloom_bucketed,
    "filter_stats": q_filter_stats,
    "seen_antijoin": q_seen_antijoin,
    "seen_antijoin_bloom": q_seen_antijoin_bloom,
    "politeness_schedule": q_politeness_schedule,
    "extraction_stats": q_extraction_stats,
    "domain_similarity": q_domain_similarity,
    "domain_profile": q_domain_profile,
    "project_monthly": q_project_monthly,
    "size_distribution": q_size_distribution,
    "sliding_window_count": q_sliding_window_count,
    "lineitem_rollup": q_lineitem_rollup,
    "top_customers": q_top_customers,
    "minhash_signatures": q_minhash_signatures,
    "ngram_jaccard_planted": q_ngram_jaccard_planted,
    "fulltext_match": q_fulltext_match,
    "fulltext_typo": q_fulltext_typo,
    "cdx_facets": q_cdx_facets,
    "ann_topk": q_ann_topk,
    "ann_topk_ivf": q_ann_topk_ivf,
    "search_highlight": q_search_highlight,
    "pagination": q_pagination,
    "pdf_extraction_identity": q_pdf_extraction_identity,
}

ORACLES: dict[str, str] = {
    "filter_decisions": SQL_FILTER_DECISIONS,
    "filter_stats": SQL_FILTER_STATS,
    "collapse_digest": SQL_COLLAPSE_DIGEST,
    "seen_antijoin": SQL_SEEN_ANTI_JOIN,
    "seen_antijoin_bloom": SQL_SEEN_ANTI_JOIN,
    "seen_antijoin_bloom_bucketed": SQL_SEEN_ANTI_JOIN,
    "seen_antijoin_cuckoo": SQL_SEEN_ANTI_JOIN,
    "registry_categorize": SQL_REGISTRY_CATEGORIZE,
    "politeness_schedule": SQL_POLITENESS_SCHEDULE,
    "politeness_schedule_pruned": SQL_POLITENESS_SCHEDULE_PRUNED,
    "crawl_order": SQL_CRAWL_ORDER,
    "url_parts": SQL_URL_PARTS,
    "cdx_analytics": SQL_CDX_ANALYTICS,
    "daily_stats": SQL_DAILY_STATS,
    "status_percentiles": SQL_STATUS_PERCENTILES,
    "domain_profile": SQL_DOMAIN_PROFILE,
    "domain_similarity": SQL_DOMAIN_SIMILARITY,
    "size_distribution": SQL_SIZE_DISTRIBUTION,
    "interval_merge": SQL_INTERVAL_MERGE,
    "gap_detect": SQL_GAP_DETECT,
    "sliding_window_count": SQL_SLIDING_WINDOW_COUNT,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "doc_stats": SQL_DOC_STATS,
    "langid": SQL_LANGID,
    "pii_redact": SQL_PII_REDACT,
    "url_blocklist": SQL_URL_BLOCKLIST,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "exact_dups": SQL_EXACT_DUPS,
    "ngram_jaccard_planted": SQL_NGRAM_JACCARD_PLANTED,
    "minhash_pairs": SQL_MINHASH_PAIRS,
    "fulltext_match": SQL_FULLTEXT_MATCH,
    "bm25_rank": SQL_BM25_RANK,
    "recrawl_schedule": SQL_RECRAWL_SCHEDULE,
    "link_extract": SQL_LINK_EXTRACT,
    "anchor_texts": SQL_ANCHOR_TEXTS,
    "sitemap_discover": SQL_SITEMAP_DISCOVER,
    "wet_identity": SQL_WET_IDENTITY,
    "url_traps": SQL_URL_TRAPS,
    "host_traps": SQL_HOST_TRAPS,
    "unicode_clean": SQL_UNICODE_CLEAN,
    "fulltext_ranked": SQL_FULLTEXT_RANKED,
    "facet_counts": SQL_FACET_COUNTS,
    "fulltext_typo": SQL_FULLTEXT_TYPO,
    "fulltext_proximity": SQL_FULLTEXT_PROXIMITY,
    "search_highlight": SQL_SEARCH_HIGHLIGHT,
    "pagination": SQL_PAGINATION,
    "entity_extract": SQL_ENTITY_EXTRACT,
    "extraction_stats": SQL_EXTRACTION_STATS,
    "project_monthly": SQL_PROJECT_MONTHLY,
    "cdx_facets": SQL_CDX_FACETS,
    "ann_topk": SQL_ANN_TOPK,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    "lineitem_rollup": SQL_LINEITEM_ROLLUP,
    "top_customers": SQL_TOP_CUSTOMERS,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "ann_topk_lsh": SQL_ANN_TOPK_LSH,
    "ann_topk_ivf": SQL_ANN_TOPK_IVF,
    "hybrid_source": SQL_HYBRID_SOURCE,
    "extraction_identity": SQL_EXTRACTION_IDENTITY,
    "pdf_extraction_identity": SQL_PDF_EXTRACTION_IDENTITY,
    "robots_rules": SQL_ROBOTS_RULES,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "decontaminate": SQL_DECONTAMINATE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "boilerplate_strip": SQL_BOILERPLATE_STRIP,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "host_authority": SQL_HOST_AUTHORITY,
    "winnow_fingerprint": SQL_WINNOW_FINGERPRINT,
    "warc_identity": SQL_WARC_IDENTITY,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "exact_substring_spans": SQL_EXACT_SUBSTRING_SPANS,
    "exact_substring_removal": SQL_EXACT_SUBSTRING_REMOVAL,
    "dsir_sample": SQL_DSIR_SAMPLE,
    "semdedup": SQL_SEMDEDUP,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "line_dedup": SQL_LINE_DEDUP,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "fasttext_quality": SQL_FASTTEXT_QUALITY,
    "pack_emit": SQL_PACK_EMIT,
    "vocab_topk": SQL_VOCAB_TOPK,
    "shard_assign": SQL_SHARD_ASSIGN,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "crawl_diff": SQL_CRAWL_DIFF,
    "wordpiece_encode": SQL_WORDPIECE_ENCODE,
    "mix_rebalance": SQL_MIX_REBALANCE,
    "asof_join": SQL_ASOF_JOIN,
    "dedup_clusters_star": SQL_DEDUP_CLUSTERS,
    "lm_buckets": SQL_LM_BUCKETS,
    "page_changes": SQL_PAGE_CHANGES,
    "change_stats": SQL_CHANGE_STATS,
    "content_evolution": SQL_CONTENT_EVOLUTION,
    "readability": SQL_READABILITY,
    "bigram_logprob": SQL_BIGRAM_LOGPROB,
    "frontier_priority": SQL_FRONTIER_PRIORITY,
    "frontier_priority_opic": SQL_FRONTIER_PRIORITY_OPIC,
    "robots_wildcard": SQL_ROBOTS_WILDCARD,
    "surt_cdxj": SQL_SURT_CDXJ,
    "redirect_resolve": SQL_REDIRECT_RESOLVE,
    "authority_budgets": SQL_AUTHORITY_BUDGETS,
    "hits": SQL_HITS,
    "url_tree": SQL_URL_TREE,
    "quantile_sketch": SQL_QUANTILE_SKETCH,
    "hll_distinct": SQL_HLL_DISTINCT,
    "links_nofollow": SQL_LINKS_NOFOLLOW,
    "meta_robots": SQL_META_ROBOTS,
    "rel_canonical": SQL_REL_CANONICAL,
    "saved_query_match": SQL_SAVED_QUERY_MATCH,
    "cms_host_counts": SQL_CMS_HOST_COUNTS,
    "surt_collapse": SQL_SURT_COLLAPSE,
    "latest_captures": SQL_LATEST_CAPTURES,
    "mime_sniff": SQL_MIME_SNIFF,
    "soft404_detect": SQL_SOFT404_DETECT,
    "feed_discover": SQL_FEED_DISCOVER,
    "adaptive_budgets": SQL_ADAPTIVE_BUDGETS,
    "latest_postings": SQL_LATEST_POSTINGS,
    "opic": SQL_OPIC,
    "wat_identity": SQL_WAT_IDENTITY,
    "pct_normalize": SQL_PCT_NORMALIZE,
    "script_profile": SQL_SCRIPT_PROFILE,
}

_R5_WINDOW = [
    # never driver-checked, oracle-backed (28)
    "exact_substring_spans", "dedup_clusters_star", "change_stats",
    "content_evolution", "host_traps", "unicode_clean",
    "frontier_priority", "frontier_priority_opic", "hits", "url_tree",
    "quantile_sketch", "hll_distinct", "links_nofollow", "meta_robots",
    "rel_canonical", "saved_query_match", "cms_host_counts",
    "surt_collapse", "latest_captures", "mime_sniff", "soft404_detect",
    "feed_discover", "adaptive_budgets", "latest_postings", "opic",
    "wat_identity", "pct_normalize", "script_profile",
]

def _window_order(d: dict) -> dict:
    head = {k: d[k] for k in _R5_WINDOW if k in d}
    head.update({k: v for k, v in d.items() if k not in head})
    return head

QUERIES = _window_order(QUERIES)

ORACLES = _window_order(ORACLES)
