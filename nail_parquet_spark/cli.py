"""nail-compatible CLI over the Spark engine.

Covers the reference's 31-subcommand surface (/root/reference/src/commands/
mod.rs:51-148) with the same verbs and near-identical flags, executing on
Spark instead of DataFusion. Output goes to a file (-o) or pretty-prints to
the console like the reference's OutputHandler (utils/output.rs:15-30).

Usage: python -m nail_parquet_spark.cli <command> <input> [options]
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def _spark(jobs: int | None = None):
    from nail_parquet_spark.session import get_spark

    master = f"local[{jobs}]" if jobs else None
    return get_spark("nail-spark-cli", master=master)


def _is_parquet_input(path: str) -> bool:
    import os

    from nail_parquet_spark.sources.io import list_parquet_files

    if path.endswith(".parquet"):
        return True
    return os.path.isdir(path) and bool(list_parquet_files(path))


def _out(df, args, n: int = 20):
    from nail_parquet_spark.sources.io import write_data

    if getattr(args, "output", None):
        write_data(df, args.output, getattr(args, "format", None))
        print(f"wrote {args.output}")
    else:
        df.show(n=n, truncate=False)


def _infer_literal(raw: str):
    try:
        return int(raw)
    except ValueError:
        try:
            return float(raw)
        except ValueError:
            return raw.strip("'\"")


def _parse_where_clause(spec: str):
    """One --where argument -> a CNF clause. ' OR ' (uppercase, spaces)
    splits the argument into disjuncts pruned/filtered as a unit
    (cross-column OR, e.g. \"lang=de OR url^=https://a.\"); repeated
    --where arguments are ANDed as before. A value containing a literal
    ' OR ' is not expressible here — use --where per predicate instead."""
    parts = [s for s in spec.split(" OR ") if s.strip()]
    if len(parts) > 1:
        return [_parse_where(s) for s in parts]
    return _parse_where(spec)


def _parse_where(spec: str):
    """'col>=value' -> (col, op, value) with numeric literal inference (same
    rules as the filter condition parser: int, then float, then string).
    'col^=prefix' is the string-prefix predicate (zone-map range prune),
    'col@=a,b,c' is the IN-list predicate (zone + bloom OR-prune),
    'col*=substr' is the substring (contains) predicate — pruned only by
    n-gram bloom bitmaps (--bloom-columns col:gN at encode), exact residual
    filter either way,
    'col!=value' excludes a value (prunes only value-constant blocks), and
    'col IS [NOT] NULL' prunes from the per-block null counters alone."""
    m = re.match(r"(?is)^\s*([\w.]+)\s+is\s+(not\s+)?null\s*$", spec)
    if m:
        return m.group(1), ("notnull" if m.group(2) else "isnull"), None
    for op in ("^=", "*=", ">=", "<=", "!=", "@=", "==", "=", ">", "<"):
        if op in spec:
            col, _, raw = spec.partition(op)
            col, raw = col.strip(), raw.strip()
            if not col or not raw:
                break
            if op == "^=":
                return col, "prefix", raw.strip("'\"")
            if op == "*=":
                return col, "contains", raw.strip("'\"")
            if op == "@=":
                return col, "in", [_infer_literal(x.strip())
                                   for x in raw.split(",") if x.strip()]
            return col, ("=" if op == "==" else op), _infer_literal(raw)
    raise SystemExit(
        f"bad --where {spec!r}: expected col(^=|*=|@=|>=|<=|!=|>|<|=)value "
        "or 'col IS [NOT] NULL'")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nail-spark", description=__doc__)
    p.add_argument("-j", "--jobs", type=int, default=None, help="parallelism (local[N])")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, *flags_specs, with_output=True):
        sp = sub.add_parser(name)
        sp.add_argument("input")
        if with_output:
            sp.add_argument("-o", "--output")
            sp.add_argument("-f", "--format")
        for flags, kw in flags_specs:
            sp.add_argument(*flags, **kw)
        return sp

    add("head", (("-n",), {"type": int, "default": 10}))
    add("tail", (("-n",), {"type": int, "default": 10}))
    add("preview", (("-n",), {"type": int, "default": 10}), (("--random",), {"type": int, "default": None}))
    add("count", with_output=False)
    add("headers", (("--filter",), {"default": None}), with_output=False)
    add("schema", with_output=False)
    add("size", with_output=False)
    add("select", (("-c", "--columns"), {"default": None}), (("-r", "--rows"), {"default": None}))
    add("drop", (("-c", "--columns"), {"default": None}), (("-r", "--rows"), {"default": None}),
        (("--conditions",), {"default": None}))
    add("filter", (("-c", "--conditions"), {"default": None}), (("--rows",), {"default": None, "dest": "row_mode"}))
    add("search", (("-v", "--value"), {"required": True}), (("-c", "--columns"), {"default": None}),
        (("--ignore-case",), {"action": "store_true"}), (("--rows",), {"action": "store_true"}),
        (("--exact",), {"action": "store_true", "help": "exact match only (search.rs:28)"}),
        (("--rank",), {"action": "store_true",
                       "help": "BM25 ranked retrieval of -v as a query (needs --id-col; "
                               "beyond the reference's substring search)"}),
        (("--id-col",), {"default": None}), (("--text-col",), {"default": "text"}),
        (("-k", "--topk"), {"type": int, "default": 10}),
        (("--hybrid",), {"action": "store_true",
                         "help": "fuse BM25 with cosine over --vec-col by "
                                 "Reciprocal Rank Fusion (needs --query-id)"}),
        (("--vec-col",), {"default": "embedding"}),
        (("--query-id",), {"default": None,
                           "help": "hybrid: id of the row whose vector is the "
                                   "semantic query"}),
        (("--rrf-k",), {"type": int, "default": 60}))
    add("cluster", (("--mode",), {"required": True,
                                  "choices": ["kmeans", "semdedup",
                                              "semdedup-text"]}),
        (("--id-col",), {"required": True}),
        (("--vec-col",), {"default": "embedding"}),
        (("--text-col",), {"default": "text",
                           "help": "semdedup-text: column to hash-embed"}),
        (("--dim",), {"type": int, "default": 64,
                      "help": "semdedup-text: hashed embedding width"}),
        (("-k", "--clusters"), {"type": int, "default": 8, "dest": "clusters"}),
        (("--iters",), {"type": int, "default": 1}),
        (("--tau",), {"type": float, "default": 0.95,
                      "help": "semdedup: within-cluster cosine drop threshold"}),
        (("--score-col",), {"default": None,
                            "help": "semdedup: keep the best-scoring member "
                                    "per transitive cluster"}),
        (("--transitive",), {"action": "store_true",
                             "help": "semdedup: keep smallest id per connected "
                                     "component instead of keep-first"}))
    add("embed", (("--text-col",), {"default": "text"}),
        (("--out-col",), {"default": "embedding"}),
        (("--dim",), {"type": int, "default": 64}))
    add("rename", (("-c", "--columns"), {"required": True}))
    add("create", (("-c", "--columns"), {"required": True}), (("--filter",), {"default": None}))
    add("id", (("--name",), {"default": "id"}), (("--prefix",), {"default": ""}))
    add("sort", (("-c", "--columns"), {"required": True}), (("--nulls",), {"default": "last"}))
    add("dedup", (("-c", "--columns"), {"default": None}), (("--row-wise",), {"action": "store_true"}),
        (("--col-wise",), {"action": "store_true"}), (("--keep",), {"default": "first"}),
        (("--soft",), {"action": "store_true",
                       "help": "weight duplicates 1/cluster-size instead of dropping "
                               "(adds dup_count/weight; needs --id-col/--text-col)"}),
        (("--id-col",), {"default": None}), (("--text-col",), {"default": "text"}),
        (("--near",), {"action": "store_true",
                       "help": "with --soft: weight by connected MinHash near-dup cluster"}),
        (("--pairs",), {"default": None, "choices": ["jaccard", "containment"],
                        "help": "emit the near-dup PAIR audit table instead of "
                                "deduping: symmetric n-gram Jaccard, or asymmetric "
                                "containment |A∩B|/|A| (catches a short doc embedded "
                                "in a longer one; needs --id-col/--text-col)"}),
        (("--threshold",), {"type": float, "default": None,
                            "help": "pair threshold (default 0.5 jaccard / 0.8 containment)"}))
    add("merge", (("--right",), {"required": True}), (("-k", "--key"), {"required": True}),
        (("--type",), {"default": None, "dest": "join_type",
                       "help": "inner/left/right, plus semi/anti (existence "
                               "filters, beyond the reference)"}),
        (("--left",), {"action": "store_true", "dest": "join_left", "help": "left join (merge.rs:17)"}),
        (("--right-join",), {"action": "store_true", "help": "right join (merge.rs:20)"}))
    add("append", (("--others",), {"required": True}), (("--ignore-schema",), {"action": "store_true"}))
    add("split", (("--ratios",), {"default": "0.8,0.2"}), (("--seed",), {"type": int, "default": None}),
        (("--stratify-by",), {"default": None}),
        (("--group-by",), {"default": None,
                           "help": "leakage-safe split: all rows sharing this "
                                   "key land in one slice (host/domain/user)"}),
        (("--names",), {"default": None, "help": "output file names, comma-separated (split.rs:17)"}),
        (("--prefix",), {"default": "split", "help": "auto-name prefix (split.rs:20)"}),
        (("--output-dir",), {"default": None, "help": "directory for split files (split.rs:23)"}))
    add("sample", (("-n",), {"type": int, "default": 100}), (("--seed",), {"type": int, "default": None}),
        (("--stratify-by",), {"default": None}),
        (("--method",), {"default": None, "choices": ["random", "stratified", "first", "last"],
                         "help": "sample.rs:58-62 modes; default random (stratified if --stratify-by)"}))
    add("shuffle", (("--seed",), {"type": int, "default": None}))
    add("fill", (("-c", "--columns"), {"required": True}), (("--method",), {"default": "value"}),
        (("--value",), {"default": None}),
        (("--group-by",), {"default": None,
                           "help": "group-wise mean/median/mode imputation (comma keys)"}))
    add("stats", (("-c", "--columns"), {"default": None}), (("--stats-type",), {"default": "basic"}),
        (("--approx-distinct",), {"action": "store_true",
                                  "help": "KMV distinct-cardinality sketch per column "
                                          "(one scan, no distinct shuffle; exact below k)"}),
        (("--sketch-k",), {"type": int, "default": 1024,
                           "help": "KMV set size (error ~ 1/sqrt(k-2))"}),
        (("--group-by",), {"default": None,
                           "help": "with --approx-distinct/--quantiles: per-"
                                   "group sketch of the single -c column "
                                   "(comma keys)"}),
        (("--quantiles",), {"default": None,
                            "help": "comma q-list in [0,1]: deterministic "
                                    "min-k-sample quantiles of -c columns"}),
        (("--id-column",), {"default": None,
                            "help": "unique id hashed for the --quantiles "
                                    "sample (default: first column)"}),
        (("--overlap-with",), {"default": None,
                               "help": "second table (any readable format): KMV "
                                       "bottom-k set overlap of the single -c column "
                                       "(jaccard + est intersection; per --group-by "
                                       "group if given; <= 2k hashes move per group)"}),
        (("--overlap-column",), {"default": None,
                                 "help": "with --overlap-with: the second table's "
                                         "value column (default: same as -c)"}))
    add("frequency", (("-c", "--columns"), {"required": True}), (("--limit",), {"type": int, "default": None}),
        (("--heavy",), {"action": "store_true",
                        "help": "exact top-k via distributed Misra-Gries "
                                "candidates + exact verify (one column; "
                                "never shuffles the full distinct set)"}))
    add("correlations", (("-c", "--columns"), {"default": None}), (("--method",), {"default": "pearson"}),
        (("--matrix",), {"action": "store_true", "help": "n x n wide matrix (stats.rs display shape)"}),
        (("--tests",), {"action": "store_true", "help": "include p-values (correlations.rs:31)"}),
        (("--digits",), {"type": int, "default": 4, "help": "rounding (correlations.rs:34)"}))
    add("outliers", (("-c", "--columns"), {"default": None}), (("--method",), {"default": "iqr"}),
        (("--remove",), {"action": "store_true"}),
        (("--factor",), {"type": float, "default": 1.5, "help": "IQR fence multiplier"}),
        (("--threshold",), {"type": float, "default": None, "help": "z / modified-z cutoff"}),
        (("--show-values",), {"action": "store_true", "help": "print only the outlier rows (outliers.rs:31)"}),
        (("--with-row-numbers",), {"action": "store_true", "help": "include row numbers (outliers.rs:34)"}))
    add("binning", (("-c", "--column"), {"required": True, "help": "column(s), comma-separated"}),
        (("--bins",), {"default": "10", "help": 'count or custom edges "0,10,50" (binning.rs:22)'}),
        (("--method",), {"default": "equal-width"}),
        (("--labels",), {"default": None, "help": "custom bin labels, comma-separated"}),
        (("--suffix",), {"default": "_bin"}),
        (("--drop-original",), {"action": "store_true"}))
    add("pivot", (("--index",), {"required": True}), (("--pivot",), {"required": True, "dest": "pivot_col"}),
        (("--value",), {"required": True, "help": "value column(s), comma-separated (pivot.rs:24)"}),
        (("--agg",), {"default": "sum"}),
        (("--fill",), {"default": None, "help": "fill for missing cells (pivot.rs:33)"}))
    add("convert")
    add("optimize", (("--policy",), {"default": "balanced"}),
        (("--codecs",), {"default": None, "help": 'JSON {"col": "codec"} overrides'}),
        (("--advise",), {"action": "store_true",
                         "help": "dry run: run the codec auto-selector on a "
                                 "driver-side sample and print one JSON line "
                                 "per column (codec, predicted ratio, stats) "
                                 "without encoding or writing anything"}),
        (("--advise-rows",), {"type": int, "default": 65_536,
                              "help": "sample size for --advise"}),
        (("--sort-by",), {"default": None}), (("--validate",), {"action": "store_true"}),
        (("--zorder-by",), {"default": None,
                            "help": "comma list: cluster blocks by the Morton code of these "
                                    "columns (multi-column zone-map pruning, pipeline/zorder.py)"}),
        (("--zorder-scheme",), {"default": "width", "choices": ["width", "quantile"],
                                "help": "numeric bucket boundaries: equi-width over [min,max] "
                                        "or approxQuantile equi-depth (skewed dims)"}),
        (("--compression",), {"default": None,
                              "help": "plain parquet rewrite with this codec (snappy/gzip/zstd/brotli) instead of block-encode"}),
        (("--compression-level",), {"type": int, "default": None,
                                    "help": "zstd/brotli level 1-9 (optimize.rs:119); brotli writes via the pyarrow sink"}),
        (("--bloom-columns",), {"default": None,
                                "help": "comma list of str/int columns to index with per-block "
                                        "bloom bitmaps (equality pushdown in decode --where); "
                                        "'col:<P>' also inserts P-byte prefix keys so "
                                        "--where \"col^=...\" prunes by bloom too; "
                                        "'col:g<N>' inserts N-gram keys so "
                                        "--where \"col*=substr\" (contains) prunes; "
                                        "'col:<P>:g<N>' does both"}),
        (("--bucket-by",), {"default": None, "help": "save as a bucketed table on this key (zero-shuffle future joins)"}),
        (("--buckets",), {"type": int, "default": 64}),
        (("--table",), {"default": None, "help": "catalog table name for --bucket-by"}),
        (("--quality",), {"action": "store_true",
                          "help": "Gopher-filter rows on --quality-text-column before encoding "
                                  "(rejected rows reported, rule thresholds printed)"}),
        (("--quality-rules",), {"default": None, "help": "JSON threshold overrides for --quality"}),
        (("--quality-text-column",), {"default": "text"}),
        (("--quality-id-column",), {"default": None, "help": "doc id column (default: first column)"}))
    add("decode", (("-c", "--columns"), {"default": None}),
        (("--where",), {"default": None, "dest": "where", "action": "append",
                        "help": "predicate pushdown 'col>=value' (ops: > >= < <= =) — "
                                "zone-map block pruning skips non-matching groups; "
                                "repeatable, multiple are ANDed; ' OR ' inside one "
                                "argument makes a cross-column OR-clause pruned as "
                                "the union of its disjuncts' keep-sets"}),
        (("--snapshot",), {"default": None,
                           "help": "time travel: decode the table as of this "
                                   "snapshot id or tag (encode_resumable out_dir)"}),
        (("--missing-columns",), {"choices": ("error", "null"),
                                  "default": "error", "dest": "missing_columns",
                                  "help": "schema evolution: 'null' fills columns "
                                          "absent from older block groups with NULL "
                                          "instead of erroring"}),
        (("--no-deletes",), {"action": "store_true", "dest": "no_deletes",
                             "help": "audit view: decode a snapshot table WITHOUT applying "
                                     "its committed position deletes (default applies them — "
                                     "a delete the reader ignores is corruption)"}),
        (("--top",), {"default": None,
                      "help": "'col:k[:asc|desc]' — ORDER BY col LIMIT k with "
                              "zone-map block pruning (only groups that can "
                              "hold a top-k row are read; default desc; NULLs "
                              "never rank)"}),
        (("--tiebreak",), {"default": None,
                           "help": "secondary ascending sort column for --top "
                                   "boundary determinism"}),
        (("--top-group",), {"default": None, "dest": "top_group",
                            "help": "with --top: per-group top-k (row_number() "
                                    "OVER (PARTITION BY this column) <= k) with "
                                    "grouped zone-map pruning — single-group "
                                    "'point blocks' prune independently per "
                                    "group; NULL groups never rank"}),
        (("--changes",), {"default": None,
                          "help": "'FROM[..TO]' — CDC changelog scan: NET "
                                  "row-level diff between the merge-on-read "
                                  "states at two snapshot ids/tags (FROM "
                                  "exclusive, TO inclusive, default latest); "
                                  "emits _change_type insert|delete and "
                                  "_commit_snapshot; input must be a "
                                  "snapshot table (encode --resume out_dir)"}),
        (("--changes-cursor",), {"default": None, "dest": "changes_cursor",
                                 "help": "incremental CDC consume: poll changes "
                                         "since the cursor file's snapshot, write "
                                         "them to -o, then ack (advance the "
                                         "cursor) — at-least-once; nothing new "
                                         "writes an empty delta"}),
        (("--sample-keys",), {"default": None, "dest": "sample_keys",
                              "help": "'col:fraction[:seed]' — key-stable "
                                      "deterministic sample via the pinned "
                                      "60-bit md5 lane: only the key column "
                                      "decodes everywhere, payloads decode "
                                      "only for block groups holding a picked "
                                      "row; same key => same draw across "
                                      "engines/layouts/runs"}),
        (("--semi-join",), {"default": None, "dest": "semi_join",
                            "help": "'col@path' — decode only rows whose col "
                                    "appears in the probe table at path (WHERE "
                                    "col IN (SELECT ...)): late materialization "
                                    "— the key column decodes first, payloads "
                                    "decode only for matching block groups; "
                                    "small probe sets also prune via zone maps "
                                    "+ blooms; NULL keys never match"}))
    add("quality", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None, "help": "doc id column (default: first column)"}),
        (("--mode",), {"default": "filter",
                       "choices": ["signals", "repetition", "top-ngram", "filter",
                                   "clean", "dedup-lines", "dedup-paragraphs",
                                   "dedup-sentences", "dedup-sentence-spans",
                                   "boilerplate", "corpus-stats", "perplexity",
                                   "bigram-perplexity", "dsir", "ppl-buckets",
                                   "classify", "span-stats", "dedup-spans",
                                   "entropy"],
                       "help": "Gopher signals / dup-line stats / top n-gram / composed "
                               "rule filter / C4 line cleaning / corpus-global line dedup / "
                               "within-site boilerplate removal / corpus token totals / "
                               "unigram-LM perplexity / duplicated-span stats or "
                               "removal (exact-substring dedup) / char+word Shannon "
                               "entropy signals (one vectorized arrow pass)"}),
        (("--group-by",), {"default": None,
                           "help": "group column (corpus-stats, ppl-buckets, boilerplate)"}),
        (("--url-column",), {"default": None,
                             "help": "boilerplate: derive the group as "
                                     "registered_domain(url) instead of --group-by"}),
        (("--max-doc-frac",), {"type": float, "default": 0.5,
                               "help": "boilerplate: drop lines present in >= this "
                                       "fraction of the group's docs"}),
        (("--min-docs",), {"type": int, "default": 2,
                           "help": "boilerplate: groups smaller than this are never filtered"}),
        (("--target",), {"default": None,
                         "help": "dsir: target-domain table to weight toward"}),
        (("--buckets",), {"type": int, "default": 4096,
                          "help": "dsir: hashed-unigram feature buckets"}),
        (("--weights",), {"default": None,
                          "help": "classify: (feature_id, weight) model table"}),
        (("--dim",), {"type": int, "default": 1 << 18,
                      "help": "classify: hashed feature-space size"}),
        (("--bias",), {"type": float, "default": 0.0}),
        (("--threshold",), {"type": float, "default": 0.5,
                            "help": "classify --remove: keep score >= this"}),
        (("--ngram",), {"type": int, "default": 2, "help": "n for --mode top-ngram"}),
        (("--span",), {"type": int, "default": 3,
                       "help": "sentence-window width for --mode "
                               "dedup-sentence-spans (C4's rule uses 3)"}),
        (("--window",), {"type": int, "default": 5,
                         "help": "token-window width for --mode span-stats/dedup-spans"}),
        (("--keep-first",), {"action": "store_true", "dest": "keep_first",
                             "help": "dedup-spans: Lee-et-al keep-one policy — each "
                                     "duplicated window's smallest (doc id, position) "
                                     "occurrence survives, only the others are cut "
                                     "(default cuts every occurrence)"}),
        (("--rules",), {"default": None, "help": 'JSON threshold overrides, e.g. {"min_words": 20}'}),
        (("--remove",), {"action": "store_true", "help": "emit the surviving rows instead of the verdict table"}),
        (("--explain",), {"action": "store_true", "help": "add per-rule fail_<rule> columns to the verdict"}),
        (("--engine",), {"default": "sql", "choices": ["sql", "arrow"],
                         "help": "signal engine for --mode filter: Catalyst staged "
                                 "projection (sql) or single-pass byte kernel (arrow, "
                                 "~2.6x at GB scale, bit-identical)"}))
    add("tokenize", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None, "help": "doc id column (default: first column)"}),
        (("--mode",), {"default": "encode", "choices": ["train", "encode"],
                       "help": "train: learn BPE merges (writes the merges table); "
                               "encode: tokenize into subwords under --merges"}),
        (("--merges",), {"default": None, "help": "encode: trained merges table path"}),
        (("--num-merges",), {"type": int, "default": 1000}),
        (("--min-pair-freq",), {"type": int, "default": 2}),
        (("--max-words",), {"type": int, "default": 65536,
                            "help": "train: driver-side word-table bound (top by count)"}))
    add("normalize", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None, "help": "doc id column (default: first column)"}),
        (("--mode",), {"default": "text",
                       "choices": ["text", "scripts", "mojibake", "badwords"],
                       "help": "pinned typography/whitespace normalization in "
                               "place / unicode-script composition + dominant "
                               "script / mojibake & replacement-char audit / "
                               "word-blocklist verdict (C4-style)"}),
        (("--lowercase",), {"action": "store_true", "help": "text mode: also lowercase"}),
        (("--accents",), {"action": "store_true",
                          "help": "text mode: fold Latin diacritics to ASCII "
                                  "base letters (pinned table)"}),
        (("--words",), {"default": None,
                        "help": "badwords: comma-separated blocklist (letters/digits/'&- only)"}),
        (("--min-dominant-frac",), {"type": float, "default": 0.5,
                                    "help": "scripts: dominance floor below which "
                                            "dominant_script is 'und'"}),
        (("--engine",), {"default": "sql", "choices": ["sql", "arrow"],
                         "help": "scripts: Catalyst regex counts (sql) or the "
                                 "single-searchsorted codepoint kernel (arrow, "
                                 "count-identical)"}),
        (("--remove",), {"action": "store_true",
                         "help": "badwords: emit surviving rows instead of the verdict"}))
    add("pii", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--mode",), {"default": "mask", "choices": ["mask", "signals", "stats"],
                       "help": "mask PII in place / per-doc counts / corpus audit"}),
        (("--kinds",), {"default": None,
                        "help": "comma subset of email,ipv4,ssn,card,phone (default all)"}))
    add("audit", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None}),
        (("--url-column",), {"default": None, "dest": "audit_url_column",
                             "help": "adds URL pass rate + approx host count"}),
        (("--lang-column",), {"default": None,
                              "help": "adds the top-language histogram"}),
        (("--rules",), {"default": None,
                        "help": "JSON Gopher threshold overrides for the "
                                "pass-rate section"}),
        with_output=False)
    add("domains", (("--url-column",), {"default": "url"}),
        (("--mode",), {"default": "stats",
                       "choices": ["stats", "cap", "block", "robots",
                                   "robots-directives", "url-quality"],
                       "help": "per-registered-domain budget / cap docs per domain / "
                               "drop domains on a blocklist / drop URLs robots.txt "
                               "disallows / per-host crawl-delay + sitemaps "
                               "(input = the robots corpus itself) / per-URL "
                               "quality signal verdicts (len, digits, depth, "
                               "params, banned extensions)"}),
        (("--id-column",), {"default": None, "dest": "id_column",
                            "help": "doc id for --mode url-quality "
                                    "(default: first column)"}),
        (("--blocklist",), {"default": None,
                            "help": "table of blocked domains for --mode block"}),
        (("--blocklist-column",), {"default": "domain"}),
        (("--robots",), {"default": None,
                         "help": "robots corpus for --mode robots: a table with (host, "
                                 "robots_txt) columns, any readable format"}),
        (("--agent",), {"default": "*",
                        "help": "user-agent the robots rules are selected for "
                                "(exact match or *; specific groups beat *)"}),
        (("--invert",), {"action": "store_true",
                         "help": "block mode: keep ONLY blocked rows; robots mode: "
                                 "annotate robots_allowed instead of filtering (audit)"}),
        (("--text-column",), {"default": None, "help": "adds char totals to --mode stats"}),
        (("--max-docs",), {"type": int, "default": 1000, "help": "cap for --mode cap"}),
        (("--order-column",), {"default": None,
                               "help": "deterministic keep order for --mode cap (required)"}))
    add("mix", (("--group-column",), {"default": None}),
        (("--id-column",), {"required": True, "help": "unique doc id (salts the keep hash)"}),
        (("--rates",), {"default": None, "help": 'JSON {"group": rate} keep fractions'}),
        (("--temperature",), {"type": float, "default": None,
                              "help": "derive rates from group counts at this temperature "
                                      "(T=1 natural mix, large T ~ uniform)"}),
        (("--weight-column",), {"default": None,
                                "help": "weight-proportional sampling: keep prob ~ "
                                        "weight^power, scaled to --target-frac overall"}),
        (("--target-frac",), {"type": float, "default": 0.5,
                              "help": "expected kept fraction for --weight-column mode"}),
        (("--power",), {"type": float, "default": 1.0,
                        "help": "weight exponent for --weight-column mode"}),
        (("--stats",), {"action": "store_true",
                        "help": "emit before/after counts per group instead of the rows"}))
    add("shards", (("--token-column",), {"required": True}),
        (("--budget",), {"type": int, "default": 1_000_000,
                         "help": "target tokens per shard"}),
        (("--order-column",), {"required": True,
                               "help": "unique doc id pinning the pack order"}),
        (("--stats",), {"action": "store_true",
                        "help": "emit the per-shard manifest instead of per-doc shard_id"}))
    add("decontam", (("--eval",), {"required": True, "dest": "eval_path",
                                   "help": "eval/benchmark table (any supported format)"}),
        (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None, "help": "unique doc id (default: first column)"}),
        (("--eval-text-column",), {"default": None,
                                   "help": "text column in the eval table (default: same name)"}),
        (("--ngram",), {"type": int, "default": 13,
                        "help": "n-gram size (13 = the GPT-3/Llama rule)"}),
        (("--min-hits",), {"type": int, "default": 1}),
        (("--min-frac",), {"type": float, "default": 0.0}),
        (("--report",), {"action": "store_true",
                         "help": "emit the per-doc overlap report instead of the kept rows"}),
        (("--semantic",), {"action": "store_true",
                           "help": "embedding-cosine contamination (hashed "
                                   "bag-of-words) instead of n-gram overlap"}),
        (("--scrub",), {"action": "store_true",
                        "help": "surgical mode: remove only the leaked "
                                "--ngram-token spans and keep the docs"}),
        (("--tau",), {"type": float, "default": 0.9,
                      "help": "semantic: max-cosine removal threshold"}),
        (("--dim",), {"type": int, "default": 64,
                      "help": "semantic: hashed embedding width"}))
    add("extract", (("-c", "--html-column"), {"default": "html", "dest": "html_column"}),
        (("--mode",), {"default": "text",
                       "choices": ["text", "title", "links", "lang", "all",
                                   "link-graph", "charset"],
                       "help": "visible text / <title> / href array / declared "
                               "lang attribute / all of them / domain-level "
                               "(src,dst,n_links) edge table / declared-charset "
                               "audit column"}),
        (("--charset-aware",), {"action": "store_true",
                                "help": "binary inputs: decode via the declared "
                                        "charset (windows-1252/latin-1 family "
                                        "honored, WHATWG-style) instead of lossy "
                                        "UTF-8"}),
        (("--url-column",), {"default": "url",
                             "help": "page url for --mode link-graph"}),
        (("--into",), {"default": "extracted_text", "help": "output column for --mode text"}),
        (("--body-only",), {"action": "store_true",
                            "help": "extract only the <body> region (binary inputs "
                                    "always do — WARC noise sits outside it)"}),
        (("--no-breaks",), {"action": "store_true",
                            "help": "map ALL tags to '' (byte-identity mode) instead "
                                    "of <br>/</p> -> newline"}),
        (("--keep-html",), {"action": "store_true", "help": "keep the raw html column"}))
    add("chunk", (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--id-column",), {"default": None, "help": "unique doc id (default: first column)"}),
        (("--chunk-tokens",), {"type": int, "default": 256,
                               "help": "tokens per chunk (whitespace tokens)"}),
        (("--overlap",), {"type": int, "default": 0,
                          "help": "tokens shared by consecutive chunks"}))
    add("analytics", (("--mode",), {"required": True,
                                    "choices": ["funnel", "funnel-durations", "retention",
                                                "rollup", "cube",
                                                "resample", "topk", "sample-group",
                                                "pagerank"],
                                    "help": "event funnel / cohort retention / grouping-set "
                                            "aggregates / time-bucket resample / per-group "
                                            "top-k / per-group deterministic sample / "
                                            "PageRank over an edge table"}),
        (("--steps",), {"default": None, "help": "comma event-type sequence for --mode funnel"}),
        (("--user-column",), {"default": "user_id"}),
        (("--ts-column",), {"default": "ts"}),
        (("--type-column",), {"default": "event_type"}),
        (("--within",), {"type": int, "default": None,
                         "help": "funnel: max seconds between consecutive steps"}),
        (("--max-offset",), {"type": int, "default": None,
                             "help": "retention: cap offset_days"}),
        (("--group-by",), {"default": None,
                           "help": "comma key columns (rollup/cube/resample/topk/sample-group)"}),
        (("--agg",), {"default": None,
                      "help": 'rollup/cube aggregates as JSON {"out": ["sum", "col"], ...}'}),
        (("--every",), {"type": int, "default": 3600,
                        "help": "resample bucket width in seconds"}),
        (("--value-column",), {"default": None, "help": "resample: also sum this column"}),
        (("--no-fill",), {"action": "store_true", "help": "resample: skip gap filling"}),
        (("--order-column",), {"default": None, "help": "topk: ranking column"}),
        (("--src-column",), {"default": "src", "help": "pagerank: edge source column"}),
        (("--dst-column",), {"default": "dst", "help": "pagerank: edge destination column"}),
        (("--weight-column",), {"default": None, "help": "pagerank: edge weight (default: count)"}),
        (("--iterations",), {"type": int, "default": 10}),
        (("--damping",), {"type": float, "default": 0.85}),
        (("--id-column",), {"default": None,
                            "help": "unique id: tie-break (topk) / hash key (sample-group)"}),
        (("-k",), {"type": int, "default": 10, "help": "rows per group (topk/sample-group)"}),
        (("--ascending",), {"action": "store_true", "help": "topk: smallest first"}))
    add("maintain", (("--expire-keep-last",), {"type": int, "default": None,
                                               "help": "expire snapshots beyond the newest N "
                                                       "(latest-per-batch always survives)"}),
        (("--expire-older-than",), {"type": float, "default": None,
                                    "help": "expire snapshots with commit ts < this epoch"}),
        (("--gc-orphans",), {"action": "store_true",
                             "help": "delete batch=/unit= dirs no marker references"}),
        (("--gc-grace",), {"type": float, "default": 0.0,
                           "help": "only reap orphan dirs idle at least this many seconds "
                                   "(concurrent-writer guard)"}),
        (("--dry-run",), {"action": "store_true", "help": "list orphans without deleting"}),
        (("--rollback",), {"default": None,
                           "help": "commit a metadata-only rollback: current state becomes "
                                   "the state as of this snapshot id or tag (later commits "
                                   "stay time-travelable until expired)"}),
        (("--tag",), {"default": None,
                      "help": "create/move a named tag at --at (default: latest snapshot); "
                              "tagged snapshots never expire while the tag exists"}),
        (("--at",), {"default": None,
                     "help": "snapshot id or tag the --tag points at"}),
        (("--delete-tag",), {"default": None, "dest": "delete_tag_name",
                             "help": "remove a named tag (releases its retention root)"}),
        (("--note",), {"default": None,
                       "help": "free-text audit note for --rollback/--tag"}),
        (("--history",), {"action": "store_true",
                          "help": "print the snapshot log (id, kind, batch, note, whether "
                                  "the record is in the current effective state) — the ids "
                                  "--rollback and --snapshot take; staged (write-audit-"
                                  "publish) batches are listed alongside"}),
        (("--publish",), {"default": None,
                          "help": "write-audit-publish: commit staged batches as snapshots "
                                  "('all' or comma batch keys); metadata-only"}),
        (("--discard-staged",), {"default": None, "dest": "discard_staged",
                                 "help": "drop staged batches the audit rejected ('all' or "
                                         "comma batch keys): removes dirs + markers so the "
                                         "next encode re-processes the units"}),
        with_output=False)
    add("metadata", with_output=False)
    add("blockstats", (("-c", "--columns"), {"default": None}),
        (("--snapshot",), {"default": None,
                           "help": "time travel: stats as of this snapshot id or tag"}),
        (("--distinct",), {"default": None,
                           "help": "exact DISTINCT values of this column, served from "
                                   "per-block dictionary sections where the codec allows "
                                   "(code streams never unpacked)"}),
        (("--frequency",), {"default": None,
                            "help": "exact value counts (GROUP BY count incl. the NULL "
                                    "group) of this column, histogrammed from dict codes "
                                    "/ rle run lengths where the codec allows"}),
        (("--dict-only",), {"action": "store_true",
                            "help": "with --distinct/--frequency: error instead of "
                                    "decoding any non-dictionary block (proves the "
                                    "cheap path)"}),
        (("--with-sum",), {"action": "store_true",
                           "help": "add exact sum/avg from per-block header sum stats "
                                   "(numeric columns; payloads still never read)"}),
        (("--count-where",), {"default": None,
                              "help": "exact COUNT(*) for one predicate 'col>=value' "
                                      "(same syntax as decode --where): zone maps "
                                      "decide interior blocks, only boundary blocks "
                                      "decode"}),
        (("--group-stats",), {"default": None, "dest": "group_stats",
                              "help": "'g:v' — exact GROUP BY g count/sum/min/max/avg "
                                      "of numeric v: single-group 'point blocks' "
                                      "answer from metadata + zsum header sums; only "
                                      "group-spanning / group-null blocks decode"}),
        with_output=False)
    add("compact", (("--num-files",), {"type": int, "default": 32,
                                       "help": "output block-file count"}))
    add("delete", (("--where",), {"default": None, "action": "append",
                                  "help": "rows to delete, 'col>=value' (repeatable = AND, "
                                          "' OR ' inside one = OR-clause; NULL predicates keep "
                                          "the row, ANSI DELETE semantics)"}),
        (("--keys",), {"default": None,
                       "help": "equality delete instead: a table of key VALUES (any readable "
                               "format) — committed with NO table scan; kills only rows from "
                               "batches committed strictly before it (Iceberg sequence rule)"}),
        (("--key-columns",), {"default": None,
                              "help": "with --keys: comma list restricting which of the key "
                                      "table's columns form the match key (default: all)"}),
        (("--note",), {"default": None, "help": "free-text audit note stored in the snapshot"}),
        with_output=False)
    add("upsert", (("--from",), {"dest": "from_path", "required": True,
                                 "help": "table of new rows (any readable format); must carry "
                                         "exactly the table's columns"}),
        (("--key",), {"required": True,
                      "help": "comma list of key columns — existing rows sharing a new row's "
                              "key are position-deleted in the SAME snapshot"}),
        (("--note",), {"default": None}),
        with_output=False)
    add("purge", (("--num-files",), {"type": int, "default": 32}),
        (("--bloom-columns",), {"default": None,
                                "help": "rebuild blooms on re-encoded groups for these columns"}))
    add("signatures",
        (("-c", "--text-column"), {"default": "text", "dest": "text_column"}),
        (("--num-hashes",), {"type": int, "default": 16}),
        (("--shingle-k",), {"type": int, "default": 3}))
    add("curate", (("--rules",), {"default": None, "help": "JSON Gopher threshold overrides"}),
        (("--entropy",), {"default": None, "dest": "entropy_rules",
                          "help": 'JSON entropy gate, e.g. {"min_char_entropy": 2.0, '
                                  '"min_word_entropy": 1.0} (also max_*) — drops '
                                  "compressibility-extreme docs after the rule/model gates"}),
        (("--skip",), {"default": None,
                       "help": "comma list of stages to skip: quality,c4_clean,exact_dedup,near_dedup"}),
        (("--stage",), {"action": "store_true",
                        "help": "write-audit-publish: encode the curated corpus "
                                "as STAGED batches (invisible to readers) — audit "
                                "then `maintain --publish all` to commit"}),
        (("--eval",), {"default": None, "dest": "eval_path",
                       "help": "eval/benchmark table — enables the decontamination stage"}),
        (("--dsir-target",), {"default": None, "dest": "dsir_target",
                              "help": "target-domain table — enables the DSIR "
                                      "importance-resampling stage"}),
        (("--dsir-keep-frac",), {"type": float, "default": 0.5}),
        (("--dsir-buckets",), {"type": int, "default": 4096}),
        (("--prior",), {"default": None, "dest": "prior_path",
                        "help": "previously-curated corpus (parquet path or encoded "
                                "out_dir) — enables incremental exact dedup against it"}),
        (("--prior-near",), {"action": "store_true",
                             "help": "also near-dedup against --prior (MinHash bands, "
                                     "new-vs-prior only; reuses the prior out_dir's "
                                     "saved signatures when params match)"}),
        (("--save-signatures",), {"action": "store_true", "dest": "save_sigs",
                                  "help": "persist the kept corpus's MinHash signatures "
                                          "under the out_dir for future incremental runs"}),
        (("--decontam-ngram",), {"type": int, "default": 13}),
        (("--threshold",), {"type": float, "default": 0.7, "help": "near-dup Jaccard threshold"}),
        (("--transitive",), {"action": "store_true",
                             "help": "collapse whole near-dup clusters (connected components)"}),
        (("--near-score-col",), {"default": None,
                                 "help": "keep the HIGHEST-scoring doc per near-dup cluster "
                                         "(implies transitive collapse)"}),
        (("--semdedup",), {"action": "store_true",
                           "help": "append a SemDeDup pass (hashed embeddings -> "
                                   "k-means -> within-cluster cosine drops)"}),
        (("--semdedup-tau",), {"type": float, "default": 0.9}),
        (("--semdedup-k",), {"type": int, "default": 64}),
        (("--semdedup-dim",), {"type": int, "default": 64}),
        (("--boilerplate",), {"action": "store_true",
                              "help": "prepend within-site boilerplate line removal "
                                      "(grouped by registered_domain(url))"}),
        (("--normalize",), {"action": "store_true",
                            "help": "prepend pinned unicode typography/whitespace "
                                    "normalization (before every text-keyed stage)"}),
        (("--drop-noindex",), {"action": "store_true",
                               "help": "drop pages whose robots meta declares "
                                       "noindex/none (raw-crawl input only)"}),
        (("--url-quality",), {"action": "store_true", "dest": "url_quality",
                              "help": "URL-rule gate FIRST (len/digits/depth/"
                                      "params/banned extensions) — drops asset "
                                      "links and crawler traps before extraction"}),
        (("--url-quality-rules",), {"default": None, "dest": "url_quality_rules",
                                    "help": 'JSON overrides, e.g. {"max_path_depth": 8}'}),
        (("--robots",), {"default": None, "dest": "robots_src",
                         "help": "robots corpus (host, robots_txt) — enables the "
                                 "robots.txt compliance stage (longest-prefix rule, "
                                 "unknown hosts pass)"}),
        (("--robots-agent",), {"default": "*",
                               "help": "user-agent the robots rules apply to"}),
        (("--charset-aware",), {"action": "store_true",
                                "help": "raw-crawl extract honors declared "
                                        "windows-1252/latin-1 charsets instead of "
                                        "lossy UTF-8"}),
        (("--lang",), {"default": None, "dest": "lang_keep",
                       "help": "comma list of language codes to KEEP "
                               "(stopword-marker lang ID routing, e.g. en,de)"}),
        (("--badwords",), {"default": None,
                           "help": "comma word blocklist — drops docs containing any "
                                   "listed word (C4 gate, applied on cleaned text)"}),
        (("--classifier",), {"default": None,
                             "help": "weights table — enables the model-based "
                                     "quality gate after the rule gate"}),
        (("--classifier-dim",), {"type": int, "default": 1 << 18}),
        (("--classifier-threshold",), {"type": float, "default": 0.5}),
        (("--policy",), {"default": "balanced"}),
        (("--codecs",), {"default": None, "help": 'JSON {"col": "codec"} overrides'}),
        (("--units-per-job",), {"type": int, "default": 32}),
        (("--text-column",), {"default": "text"}),
        (("--url-column",), {"default": "url"}),
        (("--ts-column",), {"default": "warc_ts"}))
    sub.add_parser("update")

    args = p.parse_args(argv)
    if args.cmd == "update":
        from nail_parquet_spark import __version__

        print(f"nail-spark {__version__} (self-update out of scope)")
        return 0

    if args.cmd == "maintain":
        # catalog maintenance (Iceberg expireSnapshots/removeOrphanFiles
        # shape) — pure filesystem bookkeeping, no Spark session
        from nail_parquet_spark.pipeline.checkpoint import (
            delete_tag, expire_snapshots, remove_orphan_files, resolve_ref,
            rollback_to, snapshots, tag_snapshot, tags, visible_snapshots)

        report: dict = {}
        if args.history:
            current = {s["snapshot"] for s in visible_snapshots(args.input)}
            report["history"] = [
                {"snapshot": s["snapshot"], "kind": s.get("kind", "append"),
                 "batch": s["batch"], "ts": s["ts"],
                 "rows": s.get("rows"), "target": s.get("target"),
                 "note": s.get("note"),
                 "in_current_state": s["snapshot"] in current}
                for s in snapshots(args.input)]
            report["tags"] = {n: t["snapshot"]
                              for n, t in tags(args.input).items()}
            from nail_parquet_spark.pipeline.checkpoint import staged_batches

            report["staged"] = [
                {"batch": r["batch"], "units": len(r["units"])}
                for r in staged_batches(args.input)]
        if args.tag is not None:
            report["tag"] = tag_snapshot(
                args.input, args.tag,
                snapshot_id=resolve_ref(args.input, args.at),
                note=args.note)
        if args.delete_tag_name is not None:
            report["delete_tag"] = delete_tag(args.input, args.delete_tag_name)
        if args.rollback is not None:
            report["rollback"] = rollback_to(
                args.input, resolve_ref(args.input, args.rollback),
                note=args.note)
        if args.expire_keep_last is not None or args.expire_older_than is not None:
            report["expire"] = expire_snapshots(
                args.input, keep_last=args.expire_keep_last,
                older_than_ts=args.expire_older_than)
        if args.gc_orphans:
            report["orphans"] = remove_orphan_files(
                args.input, dry_run=args.dry_run, older_than_s=args.gc_grace)
        if getattr(args, "publish", None) is not None:
            from nail_parquet_spark.pipeline.checkpoint import publish_staged

            sel = None if args.publish == "all" else args.publish.split(",")
            report["publish"] = publish_staged(args.input, batches=sel,
                                               note=args.note)
        if getattr(args, "discard_staged", None) is not None:
            from nail_parquet_spark.pipeline.checkpoint import discard_staged

            sel = (None if args.discard_staged == "all"
                   else args.discard_staged.split(","))
            report["discard_staged"] = discard_staged(args.input, batches=sel)
        if not report:
            p.error("maintain needs --history, --tag/--delete-tag, --rollback, "
                    "--expire-keep-last/--expire-older-than, --gc-orphans, "
                    "--publish and/or --discard-staged")
        print(json.dumps(report, indent=2))
        return 0

    if args.cmd in ("size", "metadata") and _is_parquet_input(args.input):
        # footer read only — read-only inspection must never scan, encode,
        # or even start a Spark session (metadata.rs/size.rs parity)
        if args.cmd == "size":
            from nail_parquet_spark.sources.footer import size_report

            print(json.dumps(size_report(args.input), indent=2))
        else:
            from nail_parquet_spark.sources.footer import metadata_items

            for k, v in metadata_items(args.input):
                print(f"{k}: {v}")
        return 0

    from nail_parquet_spark import operators as ops
    from nail_parquet_spark.sources.io import read_data

    spark = _spark(args.jobs)
    if args.cmd == "signatures":
        # backfill a MinHash signature table for an existing corpus (plain
        # path or encoded out_dir) so later `curate --prior-near` runs
        # skip recomputing it (functions/incremental.py)
        from nail_parquet_spark.functions.incremental import (
            prior_texts, save_signatures)

        out = args.output or args.input
        texts = prior_texts(spark, args.input, args.text_column)
        path = save_signatures(texts, out, text_col=args.text_column,
                               num_hashes=args.num_hashes,
                               shingle_k=args.shingle_k)
        print(json.dumps({"signatures": path,
                          "num_hashes": args.num_hashes,
                          "shingle_k": args.shingle_k,
                          "n_texts": spark.read.parquet(path).count()}))
        return 0
    if args.cmd == "curate":
        # one-call corpus curation: quality -> C4 clean -> exact dedup ->
        # near dedup -> optional decontam -> salted resumable encode
        # (pipeline/curate.py)
        from nail_parquet_spark.pipeline.curate import curate_and_encode_corpus

        if not args.output:
            p.error("curate requires -o/--output (the encode out_dir)")
        skip = set((args.skip or "").split(",")) if args.skip else set()
        state = curate_and_encode_corpus(
            spark, args.input, args.output,
            text_col=args.text_column, url_col=args.url_column,
            ts_col=args.ts_column,
            quality_rules=json.loads(args.rules) if args.rules else None,
            do_boilerplate=args.boilerplate,
            do_normalize=args.normalize,
            drop_noindex=args.drop_noindex,
            do_url_quality=args.url_quality,
            url_quality_rules=(json.loads(args.url_quality_rules)
                               if args.url_quality_rules else None),
            robots_src=args.robots_src,
            robots_agent=args.robots_agent,
            charset_aware=args.charset_aware,
            lang_keep=([x.strip() for x in args.lang_keep.split(",") if x.strip()]
                       if args.lang_keep else None),
            badwords=([w.strip() for w in args.badwords.split(",") if w.strip()]
                      if args.badwords else None),
            classifier_src=args.classifier,
            classifier_dim=args.classifier_dim,
            classifier_threshold=args.classifier_threshold,
            entropy_rules=(json.loads(args.entropy_rules)
                           if args.entropy_rules else None),
            do_quality="quality" not in skip,
            do_c4_clean="c4_clean" not in skip,
            do_exact_dedup="exact_dedup" not in skip,
            do_near_dedup="near_dedup" not in skip,
            near_threshold=args.threshold, transitive=args.transitive,
            near_score_col=args.near_score_col,
            do_semdedup=args.semdedup, semdedup_tau=args.semdedup_tau,
            semdedup_k=args.semdedup_k, semdedup_dim=args.semdedup_dim,
            prior_src=args.prior_path, prior_near_dedup=args.prior_near,
            save_sigs=args.save_sigs,
            dsir_target_src=args.dsir_target,
            dsir_keep_frac=args.dsir_keep_frac,
            dsir_buckets=args.dsir_buckets,
            eval_src=args.eval_path, decontam_ngram=args.decontam_ngram,
            codecs=json.loads(args.codecs) if args.codecs else None,
            policy=args.policy, units_per_job=args.units_per_job,
            stage=getattr(args, "stage", False))
        print(json.dumps(state, indent=2))
        return 0
    if args.cmd == "delete":
        # merge-on-read delete: commits a coordinate file (--where) or a
        # key-value file (--keys, no table scan) + a kind="delete" snapshot;
        # no data block rewrites (pipeline/deletes.py)
        from nail_parquet_spark.pipeline.deletes import delete_keys, delete_where

        if bool(args.where) == bool(args.keys):
            p.error("delete requires exactly one of --where / --keys")
        if args.keys:
            keys = read_data(spark, args.keys)
            if args.key_columns:
                cols = [c.strip() for c in args.key_columns.split(",")
                        if c.strip()]
                keys = keys.select(*cols)
            print(json.dumps(delete_keys(spark, args.input, keys,
                                         note=args.note)))
            return 0
        preds = [_parse_where_clause(w) for w in args.where]
        print(json.dumps(delete_where(spark, args.input, preds,
                                      note=args.note)))
        return 0
    if args.cmd == "upsert":
        from nail_parquet_spark.pipeline.deletes import upsert as do_upsert

        rows = read_data(spark, args.from_path)
        keys = [k.strip() for k in args.key.split(",") if k.strip()]
        print(json.dumps(do_upsert(spark, args.input, rows, keys,
                                   note=args.note)))
        return 0
    if args.cmd == "purge":
        # apply accumulated deletes physically into a fresh blocks dir;
        # untouched groups pass through byte-for-byte (pipeline/deletes.py)
        from nail_parquet_spark.pipeline.deletes import purge_deletes

        if not args.output:
            p.error("purge requires -o/--output (a dir OUTSIDE the table)")
        bloom = (args.bloom_columns.split(",") if args.bloom_columns
                 else None)
        print(json.dumps(purge_deletes(spark, args.input, args.output,
                                       num_files=args.num_files,
                                       bloom_columns=bloom)))
        return 0
    if args.cmd == "compact":
        # block-table maintenance: merge small block files, re-key groups
        # globally (codec/compact.py) — not a row-table command
        from nail_parquet_spark.codec.compact import compact_blocks

        if not args.output:
            p.error("compact requires -o/--output")
        # recursiveFileLookup: read the block FILES without Hive partition
        # discovery — a resumable out_dir's batch=*/ (or legacy unit=*/)
        # subdirs would otherwise inject partition columns or conflict
        blocks = (
            spark.read.option("recursiveFileLookup", "true").parquet(args.input)
        )
        compact_blocks(blocks, args.output, num_files=args.num_files)
        n = len(spark.read.parquet(args.output).inputFiles())
        print(f"compacted -> {args.output} ({n} files)")
        return 0
    if args.cmd == "blockstats":
        # exact count/min/max from block zone stats alone — payloads are
        # never read (codec/inspect.column_stats_pushdown)
        from nail_parquet_spark.codec.inspect import column_stats_pushdown

        import os as _os

        if (getattr(args, "snapshot", None) is not None
                or _os.path.isdir(_os.path.join(args.input, "_snapshots"))):
            # snapshot tables ALWAYS route through the visibility rule — a
            # raw recursive read would sweep in superseded batch dirs and
            # the _deletes coordinate files
            from nail_parquet_spark.pipeline.checkpoint import (
                read_blocks_at, resolve_ref)
            from nail_parquet_spark.pipeline.deletes import _visible_deletes

            snap = resolve_ref(args.input, getattr(args, "snapshot", None))
            if _visible_deletes(args.input, snap):
                # the refusal is scoped to the LOGICAL aggregates — they
                # read block metadata only and would count deleted rows (a
                # delete the reader ignores is corruption). The flagless
                # per-column listing describes the physical blocks as
                # stored and stays available, with a warning.
                if any(getattr(args, f, None) for f in
                       ("distinct", "count_where", "group_stats",
                        "frequency")):
                    p.error(
                        "this snapshot has committed row deletes; "
                        "blockstats pushdowns read block metadata only and "
                        "would count deleted rows (a delete the reader "
                        "ignores is corruption) — purge deletes first, or "
                        "aggregate a merge-on-read decode instead")
                print(
                    "warning: this snapshot has committed row deletes; the "
                    "listing below describes the physical blocks as stored "
                    "— row counts INCLUDE deleted rows (use a "
                    "merge-on-read decode for logical counts)",
                    file=sys.stderr)
            blocks = read_blocks_at(spark, args.input, snap)
        else:
            blocks = (
                spark.read.option("recursiveFileLookup", "true").parquet(args.input)
            )
        if getattr(args, "distinct", None):
            from nail_parquet_spark.codec.inspect import distinct_pushdown

            vals = distinct_pushdown(
                blocks, args.distinct,
                dict_only=getattr(args, "dict_only", False)
            ).orderBy(args.distinct).collect()
            print(json.dumps([r[0] for r in vals], default=str))
            return 0
        if getattr(args, "count_where", None):
            from nail_parquet_spark.codec.inspect import count_where_pushdown

            col, op, val = _parse_where(args.count_where)
            print(json.dumps(count_where_pushdown(blocks, col, op, val)))
            return 0
        if getattr(args, "group_stats", None):
            from nail_parquet_spark.codec.inspect import group_stats_pushdown

            if ":" not in args.group_stats:
                p.error("--group-stats expects 'group_col:value_col'")
            gcol, vcol = args.group_stats.split(":", 1)
            group_stats_pushdown(blocks, gcol, vcol) \
                .orderBy(gcol).show(100, truncate=False)
            return 0
        if getattr(args, "frequency", None):
            from pyspark.sql import functions as F

            from nail_parquet_spark.codec.inspect import frequency_pushdown

            rows = frequency_pushdown(
                blocks, args.frequency,
                dict_only=getattr(args, "dict_only", False)
            ).orderBy(F.desc("n"), "value").collect()
            print(json.dumps([[r["value"], r["n"]] for r in rows],
                             default=str))
            return 0
        cols = args.columns.split(",") if args.columns else None
        stats = column_stats_pushdown(
            blocks, cols, with_sum=getattr(args, "with_sum", False))
        print(json.dumps(stats, indent=2, default=str))
        return 0
    mor_deletes = None
    if args.cmd == "decode":
        import os as _os

        is_snap_table = _os.path.isdir(_os.path.join(args.input, "_snapshots"))
        if getattr(args, "snapshot", None) is not None or is_snap_table:
            from nail_parquet_spark.pipeline.checkpoint import (
                read_blocks_at, resolve_ref)
            from nail_parquet_spark.pipeline.deletes import read_deletes

            snap = resolve_ref(args.input, getattr(args, "snapshot", None))
            df = read_blocks_at(spark, args.input, snap)
            if not getattr(args, "no_deletes", False):
                mor_deletes = read_deletes(spark, args.input, snap)
                # equality deletes (delete --keys) resolve to positions so
                # they compose with the same anti-join / pushdown machinery
                from nail_parquet_spark.pipeline.deletes import equality_positions

                eq_pos = equality_positions(spark, args.input, snap)
                if eq_pos is not None:
                    mor_deletes = (eq_pos if mor_deletes is None
                                   else mor_deletes.unionByName(eq_pos))
        else:
            df = read_data(spark, args.input)
    else:
        df = read_data(spark, args.input)
    c = args.cmd

    if c == "count":
        print(ops.count_rows(df))
    elif c == "headers":
        print("\n".join(ops.headers(df, args.filter)))
    elif c == "schema":
        print(json.dumps(ops.schema_rows(df), indent=2))
    elif c == "size":
        # non-parquet inputs (parquet short-circuits to the footer path
        # above): full encode analysis is the only size source
        from nail_parquet_spark.codec.encode import encode_table
        from nail_parquet_spark.codec.inspect import size_summary

        size_summary(encode_table(df, policy="ratio")).show(truncate=False)
    elif c == "decode":
        from nail_parquet_spark.codec.decode import decode_table_where_all, decode_to_parquet

        if not args.output:
            p.error("decode requires -o/--output")
        cols = args.columns.split(",") if args.columns else None
        # flag-combination guards BEFORE any early-return branch, so a
        # meaningless combination never silently degrades to a different
        # decode shape
        if getattr(args, "top_group", None) and not getattr(args, "top", None):
            p.error("--top-group requires --top 'col:k[:asc|desc]'")
        # the changes branches emit CHANGELOG rows, not table rows — any
        # row-shaping flag would be silently ignored, so refuse the combo
        # (same exclusivity rule as --sample-keys/--semi-join below)
        if getattr(args, "changes", None) or getattr(args, "changes_cursor", None):
            _chflag = "--changes-cursor" if getattr(args, "changes_cursor", None) \
                else "--changes"
            for _name, _val in (("--where", getattr(args, "where", None)),
                                ("--top", getattr(args, "top", None)),
                                ("--top-group", getattr(args, "top_group", None)),
                                ("--sample-keys", getattr(args, "sample_keys", None)),
                                ("--semi-join", getattr(args, "semi_join", None))):
                if _val:
                    p.error(f"{_chflag} does not compose with {_name}: the "
                            "changelog is emitted whole (filter/shape the "
                            "written output instead)")
        if getattr(args, "changes_cursor", None):
            from nail_parquet_spark.pipeline.changelog import (
                ack_changes, poll_changes)

            if not is_snap_table:
                p.error("--changes-cursor requires a snapshot table")
            if getattr(args, "changes", None):
                p.error("--changes-cursor and --changes are exclusive")
            ch, tok = poll_changes(spark, args.input, args.changes_cursor,
                                   columns=cols)
            if ch is None:
                print(f"changelog cursor at {tok['from']}: nothing new")
                return 0
            ch.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            ack_changes(args.changes_cursor, tok)
            print(f"consumed {n} changes ({tok['from']}..{tok['to']}] -> "
                  f"{args.output}; cursor advanced")
            return 0
        if getattr(args, "changes", None):
            from pyspark.sql import functions as F

            from nail_parquet_spark.pipeline.changelog import table_changes
            from nail_parquet_spark.pipeline.checkpoint import resolve_ref

            if not is_snap_table:
                p.error("--changes requires a snapshot table "
                        "(an encode --resume out_dir with _snapshots/)")
            spec = args.changes
            frm_s, _, to_s = spec.partition("..")
            frm = resolve_ref(args.input, frm_s) if frm_s not in ("0", "") \
                else 0
            to = resolve_ref(args.input, to_s) if to_s else None
            ch = table_changes(spark, args.input, frm, to, columns=cols)
            ch.write.mode("overwrite").parquet(args.output)
            # count from the written files — re-aggregating `ch` would
            # re-run the whole changelog DAG
            agg = {r["_change_type"]: r["n"] for r in
                   spark.read.parquet(args.output).groupBy("_change_type")
                   .agg(F.count("*").alias("n")).collect()}
            print(f"changelog {spec}: {agg.get('insert', 0)} inserts, "
                  f"{agg.get('delete', 0)} deletes -> {args.output}")
            return 0
        if getattr(args, "sample_keys", None):
            from nail_parquet_spark.codec.decode import decode_sample

            bits = args.sample_keys.split(":")
            if len(bits) not in (2, 3):
                p.error("--sample-keys expects 'col:fraction[:seed]'")
            if getattr(args, "top", None) or getattr(args, "where", None) \
                    or getattr(args, "semi_join", None):
                p.error("--sample-keys does not compose with "
                        "--top/--where/--semi-join yet")
            dec = decode_sample(df, bits[0], float(bits[1]),
                                seed=int(bits[2]) if len(bits) == 3 else 0,
                                columns=cols, deletes=mor_deletes)
            dec.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(f"decoded {n} sampled rows "
                  f"(key {bits[0]}, fraction {bits[1]}) -> {args.output}")
            return 0
        if getattr(args, "semi_join", None):
            from nail_parquet_spark.codec.decode import decode_semijoin

            if "@" not in args.semi_join:
                p.error("--semi-join expects 'col@path'")
            key_col, probe_path = args.semi_join.split("@", 1)
            if getattr(args, "top", None) or getattr(args, "where", None):
                p.error("--semi-join does not compose with --top/--where yet")
            probe = read_data(spark, probe_path)
            # mor_deletes (position + resolved equality coordinates) are
            # anti-joined out before materialization: the lookup sees the
            # same merge-on-read view every other reader does
            dec = decode_semijoin(df, probe, key_col, columns=cols,
                                  deletes=mor_deletes)
            dec.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(f"decoded {n} rows with {key_col} in "
                  f"{probe_path} -> {args.output}")
            return 0
        if getattr(args, "top", None):
            from nail_parquet_spark.codec.decode import decode_topk

            bits = args.top.split(":")
            if len(bits) not in (2, 3) or (len(bits) == 3
                                           and bits[2] not in ("asc", "desc")):
                p.error("--top expects 'col:k[:asc|desc]'")
            if getattr(args, "where", None) or mor_deletes is not None:
                p.error("--top does not compose with --where/--no-deletes "
                        "snapshot deletes yet — decode then sort instead")
            if getattr(args, "top_group", None):
                from nail_parquet_spark.codec.decode import decode_topk_by

                dec = decode_topk_by(
                    df, args.top_group, bits[0], int(bits[1]),
                    tiebreak=args.tiebreak,
                    descending=(len(bits) < 3 or bits[2] == "desc"),
                    columns=cols)
                dec.write.mode("overwrite").parquet(args.output)
                print(f"decoded top-{bits[1]} by {bits[0]} per "
                      f"{args.top_group} -> {args.output}")
                return 0
            dec = decode_topk(df, bits[0], int(bits[1]),
                              tiebreak=args.tiebreak,
                              descending=(len(bits) < 3 or bits[2] == "desc"),
                              columns=cols)
            dec.write.mode("overwrite").parquet(args.output)
            print(f"decoded top-{bits[1]} by {bits[0]} -> {args.output}")
        elif getattr(args, "where", None):
            preds = [_parse_where_clause(w) for w in args.where]
            if mor_deletes is not None:
                from nail_parquet_spark.codec.deletes import decode_except_where

                dec = decode_except_where(df, mor_deletes, preds, columns=cols)
            else:
                dec = decode_table_where_all(df, preds, columns=cols)
            dec.write.mode("overwrite").parquet(args.output)

            def _shown(p):
                if isinstance(p[0], tuple):
                    return "(" + " OR ".join(f"{c}{o}{v!r}" for c, o, v in p) + ")"
                return f"{p[0]}{p[1]}{p[2]!r}"

            shown = " AND ".join(_shown(p) for p in preds)
            mor = " minus committed deletes" if mor_deletes is not None else ""
            print(f"decoded {dec.count()} rows (pushdown {shown}{mor}) -> {args.output}")
        elif mor_deletes is not None:
            from nail_parquet_spark.codec.deletes import decode_except

            dec = decode_except(df, mor_deletes, columns=cols)
            dec.write.mode("overwrite").parquet(args.output)
            print(f"decoded {dec.count()} rows (minus committed deletes) "
                  f"-> {args.output}")
        else:
            rows = decode_to_parquet(df, args.output, columns=cols,
                                     missing_columns=args.missing_columns).collect()
            print(f"decoded {sum(r['n_rows'] for r in rows)} rows -> {args.output}")
    elif c == "metadata":
        from nail_parquet_spark.codec.encode import encode_table
        from nail_parquet_spark.codec.inspect import encoding_usage, metadata_summary

        blocks = encode_table(df, policy="ratio").cache()
        metadata_summary(blocks).show(truncate=False)
        encoding_usage(blocks).show(truncate=False)
    elif c == "head":
        _out(ops.head(df, args.n), args, args.n)
    elif c == "tail":
        _out(ops.tail(df, args.n), args, args.n)
    elif c == "preview":
        _out(ops.preview(df, args.n, args.random), args, args.n)
    elif c == "select":
        out = df
        if args.columns:
            out = ops.select_columns(out, args.columns.split(","))
        if args.rows:
            out = ops.select_rows(out, args.rows)
        _out(out, args)
    elif c == "drop":
        out = df
        if args.columns:
            out = ops.drop_columns(out, args.columns.split(","))
        if args.rows:
            # reference dual semantics (drop.rs:18): -r takes row
            # numbers/ranges OR column conditions like 'age>25'
            if any(op in args.rows for op in ("=", ">", "<", "!")):
                out = ops.drop_rows_where(out, args.rows)
            else:
                out = ops.drop_rows(out, args.rows)
        if args.conditions:
            out = ops.drop_rows_where(out, args.conditions)
        _out(out, args)
    elif c == "filter":
        out = df
        if args.conditions:
            out = ops.filter_conditions(out, args.conditions)
        if args.row_mode:
            out = ops.filter_rows_mode(out, args.row_mode)
        _out(out, args)
    elif c == "search":
        cols = args.columns.split(",") if args.columns else None
        if args.hybrid:
            from pyspark.sql import functions as F

            from nail_parquet_spark.functions.text import hybrid_search_rrf

            if not args.id_col or args.query_id is None:
                raise SystemExit("--hybrid requires --id-col and --query-id")
            qrows = (df.filter(F.col(args.id_col).cast("string")
                               == args.query_id)
                     .select(args.vec_col).limit(1).collect())
            if not qrows or qrows[0][0] is None:
                raise SystemExit(
                    f"--query-id {args.query_id}: no row with a non-null "
                    f"{args.vec_col}")
            qv = [float(x) for x in qrows[0][0]]
            out = hybrid_search_rrf(df, args.id_col, args.text_col,
                                    args.vec_col, args.value, qv,
                                    k=args.topk, rrf_k=args.rrf_k)
        elif args.rank:
            from nail_parquet_spark.functions.text import bm25_search

            if not args.id_col:
                raise SystemExit("--rank requires --id-col (a unique document id)")
            out = bm25_search(df, args.id_col, args.text_col, args.value,
                              k=args.topk)
        elif args.rows:
            out = ops.search_rows(df, args.value, cols, args.ignore_case, exact=args.exact)
        else:
            out = ops.search_value(df, args.value, cols, args.ignore_case, exact=args.exact)
        _out(out, args)
    elif c == "cluster":
        from nail_parquet_spark.functions.cluster import kmeans, semantic_dedup

        if args.mode == "kmeans":
            out = kmeans(df, args.id_col, args.vec_col, k=args.clusters,
                         iters=args.iters, cosine_col="cosine")
        elif args.mode == "semdedup-text":
            from nail_parquet_spark.functions.embed import semantic_dedup_text

            out = semantic_dedup_text(df, args.id_col, args.text_col,
                                      dim=args.dim, k=args.clusters,
                                      iters=args.iters, tau=args.tau,
                                      score_col=args.score_col)
        else:
            out = semantic_dedup(df, args.id_col, args.vec_col,
                                 k=args.clusters, iters=args.iters,
                                 tau=args.tau, score_col=args.score_col,
                                 transitive=args.transitive)
        _out(out, args)
    elif c == "embed":
        from nail_parquet_spark.functions.embed import hashed_ngram_embedding

        _out(hashed_ngram_embedding(df, args.text_col, out_col=args.out_col,
                                    dim=args.dim), args)
    elif c == "rename":
        _out(ops.rename_columns(df, args.columns.split(",")), args)
    elif c == "create":
        _out(ops.create_columns(df, args.columns.split(","), args.filter), args)
    elif c == "id":
        _out(ops.add_id_column(df, args.name, args.prefix), args)
    elif c == "sort":
        specs = [{"col": s.lstrip("-"), "desc": s.startswith("-")} for s in args.columns.split(",")]
        _out(ops.sort_by(df, specs, nulls=args.nulls), args)
    elif c == "dedup":
        if args.pairs:
            from nail_parquet_spark.functions.dedup import (
                ngram_containment_pairs,
                ngram_jaccard_pairs,
            )

            if not args.id_col:
                raise SystemExit("--pairs requires --id-col (a unique document id)")
            if args.pairs == "containment":
                _out(ngram_containment_pairs(df, args.id_col, args.text_col,
                                             threshold=args.threshold or 0.8), args)
            else:
                _out(ngram_jaccard_pairs(df, args.id_col, args.text_col,
                                         threshold=args.threshold or 0.5), args)
        elif args.soft:
            from nail_parquet_spark.functions.dedup import soft_dedup_weights

            if not args.id_col:
                raise SystemExit("--soft requires --id-col (a unique document id)")
            _out(soft_dedup_weights(df, args.id_col, args.text_col,
                                    near=args.near), args)
        elif args.col_wise:
            _out(ops.dedup_columns(df, args.keep), args)
        else:
            subset = args.columns.split(",") if args.columns else None
            _out(ops.dedup_rows(df, subset, args.keep), args)
    elif c == "merge":
        right = read_data(spark, args.right)
        how = args.join_type or ("left" if args.join_left else "right" if args.right_join else "inner")
        _out(ops.merge(df, right, args.key, how), args)
    elif c == "append":
        others = [read_data(spark, pth) for pth in args.others.split(",")]
        _out(ops.append([df] + others, args.ignore_schema), args)
    elif c == "split":
        import os as _os

        ratios = [float(x) for x in args.ratios.split(",")]
        if args.group_by and args.stratify_by:
            p.error("--group-by and --stratify-by are mutually exclusive "
                    "(stratification balances rows across slices; group "
                    "splitting deliberately does not)")
        if args.group_by:
            parts = ops.split_by_group(df, args.group_by, ratios,
                                       args.seed or 0)
        else:
            parts = ops.split_by_ratio(df, ratios, args.seed, args.stratify_by)
        from nail_parquet_spark.sources.io import write_data

        names = args.names.split(",") if args.names else None
        if names and len(names) != len(parts):
            p.error(f"{len(names)} names for {len(parts)} splits")
        for i, part in enumerate(parts):
            if names:
                fname = names[i]
            elif args.output:
                fname = f"{args.output.rsplit('.', 1)[0]}_part{i}.parquet"
            else:
                fname = f"{args.prefix}_{i}.parquet"
            if args.output_dir:
                _os.makedirs(args.output_dir, exist_ok=True)
                fname = _os.path.join(args.output_dir, _os.path.basename(fname))
            write_data(part, fname)
        print(f"wrote {len(parts)} splits")
    elif c == "sample":
        method = args.method or ("stratified" if args.stratify_by else "random")
        if method == "stratified":
            if not args.stratify_by:
                p.error("--stratify-by required for stratified sampling")
            _out(ops.sample_stratified(df, args.stratify_by, args.n, args.seed), args)
        elif method == "first":
            _out(ops.head(df, args.n), args)
        elif method == "last":
            _out(ops.tail(df, args.n), args)
        else:
            _out(ops.sample_random(df, args.n, args.seed), args)
    elif c == "shuffle":
        _out(ops.shuffle_rows(df, args.seed), args)
    elif c == "fill":
        cols = args.columns.split(",")
        if args.method == "value":
            out = ops.fill_value(df, cols, args.value)
        elif args.method in ("mean", "median", "mode") and args.group_by:
            out = ops.fill_stat_grouped(df, cols, args.group_by.split(","),
                                        args.method)
        elif args.method in ("mean", "median", "mode"):
            out = ops.fill_stat(df, cols, args.method)
        else:
            out = ops.fill_directional(df, cols, args.method)
        _out(out, args)
    elif c == "stats":
        cols = args.columns.split(",") if args.columns else None
        if getattr(args, "overlap_with", None):
            from nail_parquet_spark.functions.sketch import (kmv_overlap,
                                                             kmv_overlap_by)
            from nail_parquet_spark.sources.io import read_data

            if not cols or len(cols) != 1:
                raise SystemExit("stats --overlap-with needs exactly one "
                                 "-c value column")
            other = read_data(spark, args.overlap_with)
            ocol = args.overlap_column or cols[0]
            if args.group_by:
                out = kmv_overlap_by(df, args.group_by.split(","), cols[0],
                                     other, ocol, k=args.sketch_k)
            else:
                out = kmv_overlap(df, cols[0], other, ocol, k=args.sketch_k)
            _out(out, args, 50)
        elif args.quantiles:
            from nail_parquet_spark.functions.sketch import (
                approx_quantiles, approx_quantiles_by)

            qs = [float(q) for q in args.quantiles.split(",")]
            idc = args.id_column or df.columns[0]
            if args.group_by:
                if not cols or len(cols) != 1:
                    raise SystemExit("stats --quantiles --group-by needs "
                                     "exactly one -c value column")
                _out(approx_quantiles_by(df, args.group_by.split(","), idc,
                                         cols[0], qs, k=args.sketch_k),
                     args, 50)
            else:
                if cols is None:
                    num = {"int", "bigint", "smallint", "tinyint", "long",
                           "float", "double", "decimal"}
                    cols = [c0 for c0, t in df.dtypes
                            if t.split("(")[0] in num]
                _out(approx_quantiles(df, idc, cols, qs, k=args.sketch_k),
                     args, 50)
        elif args.approx_distinct and args.group_by:
            from nail_parquet_spark.functions.sketch import kmv_distinct_by

            if not cols or len(cols) != 1:
                raise SystemExit("stats --approx-distinct --group-by needs "
                                 "exactly one -c value column")
            _out(kmv_distinct_by(df, args.group_by.split(","), cols[0],
                                 k=args.sketch_k), args, 50)
        elif args.approx_distinct:
            from nail_parquet_spark.functions.sketch import kmv_distinct

            if cols is None:
                ok = {"string", "int", "bigint", "smallint", "tinyint",
                      "boolean", "date", "long"}
                cols = [c0 for c0, t in df.dtypes if t.split("(")[0] in ok]
            _out(kmv_distinct(df, cols, k=args.sketch_k), args, 50)
        else:
            _out(ops.stats(df, cols, args.stats_type), args, 50)
    elif c == "frequency":
        if args.heavy:
            cols = args.columns.split(",")
            if len(cols) != 1:
                p.error("--heavy takes exactly one column")
            from nail_parquet_spark.functions.sketch import heavy_hitters

            _out(heavy_hitters(df, cols[0], k=args.limit or 10), args, 50)
        else:
            _out(ops.frequency(df, args.columns.split(","), args.limit), args, 50)
    elif c == "correlations":
        from pyspark.sql import functions as F

        cols = args.columns.split(",") if args.columns else None
        if args.matrix and args.tests:
            p.error("--matrix and --tests are mutually exclusive (matrix has no p-value cells)")
        # all three methods support --tests: pearson/spearman via the
        # t-transform, kendall via the tau-specific normal approximation
        # z = 3*tau*sqrt(n(n-1))/sqrt(2(2n+5)) (reference stats.rs:276-342)
        if args.matrix:
            out = ops.correlation_matrix(df, cols, args.method, digits=args.digits)
        elif args.tests:
            out = ops.correlations_with_pvalues(df, cols, args.method)
            out = out.withColumn("correlation", F.round("correlation", args.digits)) \
                     .withColumn("p_value", F.round("p_value", args.digits))
        else:
            out = ops.correlations(df, cols, args.method)
            out = out.withColumn("correlation", F.round("correlation", args.digits))
        _out(out, args, 50)
    elif c == "quality":
        from pyspark.sql import functions as F

        from nail_parquet_spark.functions import quality as qf

        id_col = args.id_column or df.columns[0]
        if args.mode == "signals":
            out = qf.gopher_signals_table(df, id_col, args.text_column)
        elif args.mode == "repetition":
            out = qf.repetition_stats(df, id_col, args.text_column)
        elif args.mode == "top-ngram":
            out = qf.top_ngram_char_frac(df, id_col, args.text_column, n=args.ngram)
        elif args.mode == "clean":
            out = df.withColumn(args.text_column,
                                qf.c4_clean_text(F.col(args.text_column)))
        elif args.mode == "dedup-lines":
            cleaned = qf.dedup_lines_global(df, id_col, args.text_column)
            out = df.drop(args.text_column).join(cleaned, id_col)
        elif args.mode == "dedup-paragraphs":
            cleaned = qf.dedup_paragraphs_global(df, id_col, args.text_column)
            out = df.drop(args.text_column).join(cleaned, id_col)
        elif args.mode == "dedup-sentences":
            cleaned = qf.dedup_sentences_global(df, id_col, args.text_column)
            out = df.drop(args.text_column).join(cleaned, id_col)
        elif args.mode == "dedup-sentence-spans":
            cleaned = qf.dedup_sentence_spans_global(df, id_col,
                                                     args.text_column,
                                                     span=args.span)
            out = df.drop(args.text_column).join(cleaned, id_col)
        elif args.mode == "boilerplate":
            work, grp = df, args.group_by
            if args.url_column:
                from nail_parquet_spark.functions.urls import registered_domain

                grp = "__site"
                work = df.withColumn(grp, registered_domain(F.col(args.url_column)))
            elif not grp:
                p.error("--mode boilerplate requires --group-by or --url-column")
            cleaned = qf.remove_boilerplate_lines(
                work, id_col, args.text_column, grp,
                max_doc_frac=args.max_doc_frac, min_docs=args.min_docs)
            out = df.drop(args.text_column).join(cleaned, id_col)
        elif args.mode == "classify":
            from nail_parquet_spark.functions import classify as cf
            from nail_parquet_spark.sources.io import read_data

            if not args.weights:
                p.error("--mode classify requires --weights")
            w = read_data(spark, args.weights)
            if args.remove:
                out = cf.classify_filter(df, id_col, args.text_column, w,
                                         args.dim, bias=args.bias,
                                         threshold=args.threshold)
            else:
                out = cf.linear_text_classifier(df, id_col, args.text_column,
                                                w, args.dim, bias=args.bias)
        elif args.mode == "span-stats":
            from nail_parquet_spark.functions.dedup import duplicate_span_stats

            out = duplicate_span_stats(df, id_col, args.text_column,
                                       w=args.window)
        elif args.mode == "dedup-spans":
            from nail_parquet_spark.functions.dedup import remove_duplicate_spans

            out = remove_duplicate_spans(
                df, id_col, args.text_column, w=args.window,
                keep="first" if args.keep_first else "none")
        elif args.mode == "entropy":
            from nail_parquet_spark.functions.entropy import entropy_stats

            out = entropy_stats(df, id_col, args.text_column)
        elif args.mode == "corpus-stats":
            from nail_parquet_spark.functions.text import corpus_stats

            out = corpus_stats(df, args.text_column, group_by=args.group_by)
        elif args.mode == "perplexity":
            from nail_parquet_spark.functions.text import unigram_logprob

            out = unigram_logprob(df, id_col, args.text_column)
        elif args.mode == "bigram-perplexity":
            from nail_parquet_spark.functions.text import bigram_logprob

            out = bigram_logprob(df, id_col, args.text_column)
        elif args.mode == "dsir":
            from nail_parquet_spark.functions.text import dsir_weights

            if not args.target:
                p.error("--mode dsir requires --target (the target-domain table)")
            out = dsir_weights(df, read_data(spark, args.target), id_col,
                               args.text_column, buckets=args.buckets)
        elif args.mode == "ppl-buckets":
            from nail_parquet_spark.functions.text import perplexity_buckets

            if not args.group_by:
                p.error("--mode ppl-buckets requires --group-by (e.g. lang)")
            out = perplexity_buckets(df, id_col, args.text_column,
                                     args.group_by)
        else:
            rules = json.loads(args.rules) if args.rules else None
            verdict = qf.gopher_filter(df, id_col, args.text_column, rules=rules,
                                       explain=args.explain, engine=args.engine)
            if args.remove:
                # left_semi preserves cardinality under duplicate ids (ADVICE r4)
                out = df.join(verdict.filter("passes").select(id_col), id_col,
                              "left_semi")
            else:
                out = verdict
        _out(out, args, 50)
    elif c == "mix":
        from nail_parquet_spark.functions.mixing import (
            corpus_mix, mix_stats, temperature_rates, weighted_sample)

        if args.weight_column is not None:
            if args.rates or args.temperature is not None:
                p.error("--weight-column excludes --rates / --temperature")
            mixed = weighted_sample(df, args.id_column, args.weight_column,
                                    args.target_frac, power=args.power)
            out = (mix_stats(df, mixed, args.group_column)
                   if args.stats and args.group_column else mixed)
        else:
            if args.group_column is None:
                p.error("mix needs --group-column (or --weight-column)")
            if (args.rates is None) == (args.temperature is None):
                p.error("mix needs exactly one of --rates / --temperature")
            rates = (json.loads(args.rates) if args.rates
                     else temperature_rates(df, args.group_column, args.temperature))
            mixed = corpus_mix(df, args.group_column, rates, args.id_column)
            out = mix_stats(df, mixed, args.group_column) if args.stats else mixed
        _out(out, args, 50)
    elif c == "chunk":
        from nail_parquet_spark.functions.text import chunk_documents

        id_col = args.id_column or df.columns[0]
        out = chunk_documents(df, id_col, args.text_column,
                              args.chunk_tokens, args.overlap)
        _out(out, args, 50)
    elif c == "analytics":
        from nail_parquet_spark.operators.analytics import (
            funnel, funnel_durations, grouping_sets, resample, retention,
            sample_per_group, topk_per_group)

        m = args.mode
        keys = args.group_by.split(",") if args.group_by else []
        if m == "funnel":
            if not args.steps:
                p.error("--mode funnel requires --steps")
            out = funnel(df, args.steps.split(","), args.user_column,
                         args.ts_column, args.type_column, args.within)
        elif m == "funnel-durations":
            if not args.steps:
                p.error("--mode funnel-durations requires --steps")
            out = funnel_durations(df, args.steps.split(","), args.user_column,
                                   args.ts_column, args.type_column, args.within)
        elif m == "retention":
            out = retention(df, args.user_column, args.ts_column, args.max_offset)
        elif m in ("rollup", "cube"):
            if not keys or not args.agg:
                p.error(f"--mode {m} requires --group-by and --agg")
            aggs = {k: tuple(v) for k, v in json.loads(args.agg).items()}
            out = grouping_sets(df, keys, aggs, mode=m)
        elif m == "resample":
            out = resample(df, args.ts_column, args.every, keys,
                           args.value_column, fill_gaps=not args.no_fill)
        elif m == "topk":
            if not keys or not args.order_column or not args.id_column:
                p.error("--mode topk requires --group-by, --order-column, --id-column")
            out = topk_per_group(df, keys, args.order_column, args.k,
                                 args.id_column, descending=not args.ascending)
        elif m == "pagerank":
            from pyspark.sql import functions as F

            from nail_parquet_spark.functions.graph import pagerank

            out = pagerank(df, args.src_column, args.dst_column,
                           weight_col=args.weight_column,
                           iterations=args.iterations, damping=args.damping)
            out = out.orderBy(F.col("rank").desc(), "node")
        else:  # sample-group
            if not keys or not args.id_column:
                p.error("--mode sample-group requires --group-by and --id-column")
            out = sample_per_group(df, keys, args.k, args.id_column)
        _out(out, args, 50)
    elif c == "shards":
        from nail_parquet_spark.functions.packing import pack_shards, shard_stats

        out = pack_shards(df, args.token_column, args.budget, args.order_column)
        if args.stats:
            out = shard_stats(out, args.token_column)
        _out(out, args, 50)
    elif c == "decontam":
        from nail_parquet_spark.functions.decontam import (
            decontaminate, ngram_overlap, semantic_decontaminate,
            semantic_overlap)

        id_col = args.id_column or df.columns[0]
        eval_df = read_data(spark, args.eval_path)
        if args.scrub:
            from nail_parquet_spark.functions.decontam import scrub_eval_spans

            out = scrub_eval_spans(df, eval_df, id_col, args.text_column,
                                   w=args.ngram,
                                   eval_text_col=args.eval_text_column)
            _out(out, args, 50)
            return 0
        if args.semantic:
            skw = dict(dim=args.dim, eval_text_col=args.eval_text_column)
            if args.report:
                out = semantic_overlap(df, eval_df, id_col,
                                       args.text_column, **skw)
            else:
                out = semantic_decontaminate(df, eval_df, id_col,
                                             args.text_column,
                                             tau=args.tau, **skw)
            _out(out, args, 50)
            return 0
        kw = dict(n=args.ngram, eval_text_col=args.eval_text_column)
        if args.report:
            out = ngram_overlap(df, eval_df, id_col, args.text_column, **kw)
        else:
            out = decontaminate(df, eval_df, id_col, args.text_column,
                                min_hits=args.min_hits, min_frac=args.min_frac,
                                **kw)
        _out(out, args, 50)
    elif c == "extract":
        from pyspark.sql import functions as F

        from nail_parquet_spark.functions import html as hf

        col = args.html_column
        dt = dict(df.dtypes).get(col)
        if dt is None:
            raise SystemExit(f"no column {col!r} in {args.input}")
        if args.mode == "link-graph":
            _out(hf.link_graph(df, url_col=args.url_column, html_col=col),
                 args, 50)
            return 0
        if args.mode == "charset":
            _out(df.withColumn("charset", hf.html_charset(F.col(col))),
                 args, 50)
            return 0
        if dt == "binary":
            full = (hf.html_to_string_charset(F.col(col))
                    if args.charset_aware else hf.html_to_string(F.col(col)))
        else:
            full = F.col(col)
        # text/links restrict to <body> for binary inputs (trailing WARC
        # noise sits outside it); the title lives in <head>, so it always
        # reads the full page (its regex takes the FIRST match, which
        # precedes any noise).
        page = full
        if args.body_only or dt == "binary":
            page = F.regexp_extract(full, hf.BODY_RE, 1)
        breaks = not args.no_breaks
        out = df
        if args.mode in ("text", "all"):
            out = out.withColumn(args.into, hf.html_extract_text(page, breaks=breaks))
        if args.mode in ("title", "all"):
            out = out.withColumn("title", hf.html_title(full))
        if args.mode in ("lang", "all"):
            out = out.withColumn("declared_lang", hf.html_lang(full))
        if args.mode == "links":
            out = out.withColumn("links", hf.html_links(page))
        elif args.mode == "all":
            out = out.withColumn("n_links", F.size(hf.html_links(page)))
        if not args.keep_html:
            out = out.drop(col)
        _out(out, args, 20)
    elif c == "tokenize":
        from nail_parquet_spark.functions.bpe import bpe_encode, bpe_train

        id_col = args.id_column or df.columns[0]
        if args.mode == "train":
            _out(bpe_train(df, id_col, args.text_column,
                           num_merges=args.num_merges,
                           min_pair_freq=args.min_pair_freq,
                           max_words=args.max_words), args)
        else:
            if not args.merges:
                raise SystemExit("--mode encode requires --merges (a trained merges table)")
            _out(bpe_encode(df, read_data(spark, args.merges), id_col,
                            args.text_column), args)
    elif c == "normalize":
        from pyspark.sql import functions as F

        from nail_parquet_spark.functions import normalize as nm

        id_col = args.id_column or df.columns[0]
        if args.mode == "text":
            out = df.withColumn(
                args.text_column,
                nm.normalize_text(F.col(args.text_column),
                                  lowercase=args.lowercase,
                                  accents=args.accents))
        elif args.mode == "scripts":
            out = nm.script_profile_table(
                df, id_col, args.text_column,
                dominant_min_frac=args.min_dominant_frac,
                engine=args.engine)
        elif args.mode == "mojibake":
            out = nm.mojibake_stats(df, id_col, args.text_column)
        else:
            if not args.words:
                p.error("--mode badwords requires --words")
            words = [w.strip() for w in args.words.split(",") if w.strip()]
            out = nm.badwords_filter(df, id_col, args.text_column, words,
                                     remove=args.remove)
        _out(out, args, 50)
    elif c == "pii":
        from nail_parquet_spark.functions import pii as pf

        kinds = args.kinds.split(",") if args.kinds else None
        if args.mode == "mask":
            out = pf.pii_mask_table(df, args.text_column, kinds)
        elif args.mode == "signals":
            out = pf.pii_signals_table(df, args.text_column)
        else:
            out = pf.pii_stats(df, args.text_column)
        _out(out, args, 50)
    elif c == "audit":
        from nail_parquet_spark.functions.audit import corpus_audit

        report = corpus_audit(
            df, args.id_column or df.columns[0], args.text_column,
            url_col=args.audit_url_column, lang_col=args.lang_column,
            quality_rules=json.loads(args.rules) if args.rules else None)
        print(json.dumps(report, indent=1, default=str))
    elif c == "domains":
        from nail_parquet_spark.functions import urls as uf

        if args.mode == "stats":
            out = uf.domain_stats(df, args.url_column, args.text_column)
        elif args.mode == "url-quality":
            id_col = args.id_column or df.columns[0]
            verdict = uf.url_quality_filter(df, id_col, args.url_column)
            if args.invert:
                out = verdict            # audit table
            else:                        # keep passing rows, cardinality-safe
                out = df.join(verdict.filter("passes").select(id_col),
                              id_col, "left_semi")
        elif args.mode == "block":
            if not args.blocklist:
                p.error("--mode block requires --blocklist")
            from nail_parquet_spark.sources.io import read_data

            out = uf.filter_blocked_domains(
                df, read_data(spark, args.blocklist),
                url_col=args.url_column, domain_col=args.blocklist_column,
                invert=args.invert)
        elif args.mode == "robots-directives":
            # the INPUT is the robots corpus (parquet/... with host +
            # robots_txt, or a raw robots WARC segment)
            from nail_parquet_spark.functions.robots import (
                robots_corpus, robots_directives)

            out = robots_directives(robots_corpus(spark, args.input),
                                    agent=args.agent)
        elif args.mode == "robots":
            if not args.robots:
                p.error("--mode robots requires --robots")
            from nail_parquet_spark.functions.robots import (
                parse_robots, robots_corpus, robots_filter, robots_verdict)

            # robots_corpus autodetects: a raw Common Crawl robots WARC
            # segment becomes (host, robots_txt) via the capture parser
            rules = parse_robots(robots_corpus(spark, args.robots),
                                 agent=args.agent)
            fn = robots_verdict if args.invert else robots_filter
            out = fn(df, rules, url_col=args.url_column)
        else:
            out = uf.domain_cap(df, args.url_column, args.max_docs,
                                order_col=args.order_column)
        _out(out, args, 50)
    elif c == "outliers":
        cols = args.columns.split(",") if args.columns else None
        src = df
        if args.with_row_numbers:
            from nail_parquet_spark.rowid import with_row_id

            src = with_row_id(df, "row_number")
            if cols is None:  # don't treat the added row_number as a data column
                cols = ops.numeric_cols(df)
        out = ops.outliers(src, cols, args.method, factor=args.factor,
                           action="remove" if args.remove else "flag",
                           threshold=args.threshold)
        if args.show_values and not args.remove:
            out = out.filter("is_outlier")
        _out(out, args)
    elif c == "binning":
        # "--bins 0,10,50" = custom edges, like the reference's dual arg
        if "," in args.bins:
            edges = [float(x) for x in args.bins.split(",")]
            n_bins, method = 10, "custom"
        else:
            edges, n_bins, method = None, int(args.bins), args.method
        labels = args.labels.split(",") if args.labels else None
        out = ops.binning_multi(df, args.column.split(","), n_bins, method,
                                suffix=args.suffix, edges=edges,
                                custom_labels=labels,
                                drop_original=args.drop_original)
        _out(out, args)
    elif c == "pivot":
        values = args.value.split(",")
        fill = None
        if args.fill is not None:
            try:
                fill = float(args.fill)
            except ValueError:
                fill = args.fill
        _out(ops.pivot_table(df, args.index.split(","), args.pivot_col,
                             values if len(values) > 1 else values[0],
                             args.agg, fill_value=fill), args)
    elif c == "convert":
        from nail_parquet_spark.sources.io import convert

        info = convert(spark, args.input, args.output, None, args.format)
        print(f"converted {info['rows']} rows x {info['cols']} cols -> {args.output}")
    elif c == "optimize":
        from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
        from nail_parquet_spark.codec.encode import encode_table
        from nail_parquet_spark.codec.inspect import size_summary

        src = df
        if args.advise:
            from nail_parquet_spark.codec.encode import _sample_df
            from nail_parquet_spark.codec.kernels import encode_array
            from nail_parquet_spark.codec.select import (
                choose_codec, raw_bytes_of)

            sample = _sample_df(src, src.columns, {}, args.advise_rows)
            for name, arr in sample.items():
                codec, st = choose_codec(arr, policy=args.policy)
                raw = raw_bytes_of(arr) or 1
                try:
                    enc = len(encode_array(arr, codec).payload)
                except Exception:
                    enc = raw
                print(json.dumps({
                    "column": name, "codec": codec,
                    "sample_rows": len(arr),
                    "raw_bytes": raw, "enc_bytes": enc,
                    "ratio": round(raw / max(enc, 1), 4),
                    "distinct_ratio": round(st.distinct_ratio, 4),
                    "null_frac": round(st.null_frac, 4),
                    "avg_run_len": round(st.avg_run_len, 2),
                    "byte_entropy": round(st.byte_entropy, 3),
                    "note": "xref cross-column upgrade is encode-time only",
                }))
            return 0
        if args.quality:
            from pyspark.sql import functions as F

            from nail_parquet_spark.functions.quality import gopher_filter

            qid = args.quality_id_column or src.columns[0]
            qrules = json.loads(args.quality_rules) if args.quality_rules else None
            verdict = gopher_filter(src, qid, args.quality_text_column,
                                    rules=qrules).cache()
            n_rej = verdict.filter(~F.col("passes")).count()
            # left_semi preserves cardinality under duplicate ids (ADVICE r4)
            src = src.join(verdict.filter("passes").select(qid), qid, "left_semi")
            print(f"quality gate: rejected {n_rej} rows"
                  + (f" (rules {args.quality_rules})" if args.quality_rules else ""))
        if args.sort_by and args.zorder_by:
            p.error("--sort-by and --zorder-by are mutually exclusive layouts")
        if args.sort_by:
            src = src.sortWithinPartitions(*args.sort_by.split(","))
        if args.zorder_by:
            from nail_parquet_spark.pipeline.zorder import zorder_sort

            src = zorder_sort(src, args.zorder_by.split(","),
                              scheme=args.zorder_scheme)
        if args.bucket_by:
            if not args.table:
                p.error("--bucket-by requires --table <name>")
            if args.compression or args.validate or args.codecs or args.output:
                p.error("--bucket-by writes a catalog table; it cannot be combined "
                        "with -o/--compression/--validate/--codecs")
            ops.write_bucketed(src, args.table, args.bucket_by.split(","),
                               n_buckets=args.buckets)
            print(f"wrote bucketed table {args.table} "
                  f"(bucketBy({args.buckets}, {args.bucket_by}), sorted)")
            return 0
        if args.compression:
            # reference-mode optimize: plain parquet rewrite with the chosen
            # codec/level (optimize.rs:47-135) — no block encode
            if args.compression_level is not None and not 1 <= args.compression_level <= 9:
                p.error("--compression-level must be 1-9")
            if not args.output:
                p.error("--compression requires -o/--output")
            from nail_parquet_spark.sources.io import write_data

            write_data(src, args.output, "parquet",
                       compression=args.compression,
                       compression_level=args.compression_level)
            print(f"wrote {args.output} ({args.compression}"
                  + (f":{args.compression_level}" if args.compression_level else "") + ")")
            return 0
        codecs = json.loads(args.codecs) if args.codecs else None
        bloom_cols = args.bloom_columns.split(",") if args.bloom_columns else None
        blocks = encode_table(src, codecs=codecs, policy=args.policy,
                              bloom_columns=bloom_cols)
        if args.output:
            blocks.write.mode("overwrite").parquet(args.output)
            blocks = spark.read.parquet(args.output)
        size_summary(blocks).show(truncate=False)
        if args.validate:
            dec = decode_table(blocks, columns=df.columns)
            n_src, n_dec = df.count(), dec.count()
            print(f"validate: src_rows={n_src} decoded_rows={n_dec} match={n_src == n_dec}")
    else:  # pragma: no cover
        p.error(f"unknown command {c}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
