"""Source-code corpus quality control — The Stack / StarCoder-style
file filters re-expressed as pure Spark column expressions.

The north rule's input is an Iceberg table of source-code repositories
``(repo, path, commit, lang, content)``; before any KG extraction a
real deployment curates that corpus the way the public BigCode
pipeline does (Kocetkov et al. 2022 "The Stack"; Li et al. 2023
"StarCoder": line-length caps, alphanumeric fraction, auto-generated
detection, license spotting, per-repo profiling).  Everything here is
JVM-side column arithmetic over the content scan — zero UDFs, zero
shuffles except the two documented aggregations — so the filters fold
into the same whole-stage-codegen pass that reads the file bytes.

100-TB posture
--------------
* ``stack_quality_features`` / ``spot_license``: narrow projections +
  regexp/split expressions; fully pipelined with the scan, no exchange
  at any scale.  At 10^12 files these run at scan speed.
* ``repo_stats``: one groupBy(repo) with map-side partial aggregation;
  the duplicate-file signal joins an md5-count table on the 32-byte
  content hash (co-partitioned equi-join, never the content itself).
  A pathological mono-repo (skewed ``repo`` key) is AQE skew-join
  territory — the join side carries only (hash, count) pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AUTOGEN_RE = r"(?i)auto-?generated|do not edit|generated by"
_SPDX_RE = r"SPDX-License-Identifier:\s*([A-Za-z0-9.\-]+)"

# StarCoder-ish default gates (public numbers from the BigCode
# preprocessing description).
MAX_LINE_LEN = 1000
MAX_AVG_LINE_LEN = 100
MIN_ALNUM_FRAC = 0.25

# The 62 characters the alnum-fraction gate counts.  Counting them by
# translate-removal (length(c) - length(translate(c, _ALNUM, ''))) is
# value-identical to length(regexp_replace(c, '[^A-Za-z0-9]', '')) —
# both count code points — but the regexp form allocates a Matcher +
# StringBuilder + result copy per row and its churn collapses under
# concurrent tasks: measured on the 1.28M-row scale corpus, the regexp
# form burned 258 core-s at 4 concurrent tasks and 967 core-s at 16
# (4.2x CPU, ZERO wall-clock gain from 4x cores), while the translate
# form reads 18 core-s at either width with linear speedup.  DuckDB
# oracles keep the regexp formulation — two independent formulations
# agreeing is the point of the oracle.
_ALNUM = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
          "abcdefghijklmnopqrstuvwxyz"
          "0123456789")


def _lines(content: Column) -> Column:
    return F.split(content, "\n")


def _line_lengths(content: Column) -> Column:
    return F.transform(_lines(content), lambda x: F.length(x))


def stack_quality_features(df: DataFrame,
                           content_col: str = "content") -> DataFrame:
    """Per-file quality metrics + keep/drop verdict.

    Columns added: ``max_line_len``, ``avg_line_len`` (rounded 6),
    ``alnum_frac`` (rounded 6), ``autogen``, ``passes``.  The verdict
    is computed on the UNROUNDED values; the rounded columns are the
    engine-portable display form (same convention as
    textqc.gopher_rules).
    """
    c = F.col(content_col)
    lens = _line_lengths(c)
    max_len = F.coalesce(F.array_max(lens), F.lit(0)).cast("bigint")
    # Codegen-able formulations for everything the VERDICT needs.
    # Higher-order functions (transform/aggregate lambdas) are
    # CodegenFallback: when a downstream filter(passes) is pushed
    # through the projection, Catalyst substitutes the predicate's
    # definition and a lambda-bearing predicate forces the whole
    # FilterExec into interpreted evaluation — measured 80x the CPU of
    # the codegen path on this exact verdict, wall-clock flat from 4
    # to 16 cores (BENCH/PROFILE_r5.md session-4).  So the verdict is
    # built lambda-free: line-length SUM == length(content) minus the
    # newline count (exact integer identity), and the max-line gate is
    # a run-length regex (a line longer than MAX exists iff MAX+1
    # consecutive non-newline chars exist).  The reported max_line_len
    # column keeps the HOF form — projections evaluate it once per
    # row, where it is cheap.
    nl_count = F.length(c) - F.length(F.translate(c, "\n", ""))
    n_lines = F.greatest(nl_count + 1, F.lit(1))
    total_len = F.length(c) - nl_count
    avg_len = total_len.cast("double") / n_lines
    # anchored to line starts: an unanchored "[^\n]{N}" makes the
    # matcher re-scan the same line from every offset (quadratic in
    # line length); "(?:^|\n)" fails in O(1) everywhere else, so the
    # whole test is one linear pass
    max_gate = ~c.rlike("(?:^|\n)[^\n]{%d}" % (MAX_LINE_LEN + 1))
    alnum = F.length(c) - F.length(F.translate(c, _ALNUM, ""))
    alnum_frac = alnum.cast("double") / F.greatest(F.length(c), F.lit(1))
    autogen = c.rlike(_AUTOGEN_RE)
    passes = (max_gate
              & (avg_len <= MAX_AVG_LINE_LEN)
              & (alnum_frac >= MIN_ALNUM_FRAC)
              & ~autogen)
    return (df
            .withColumn("max_line_len", max_len)
            .withColumn("avg_line_len", F.round(avg_len, 6))
            .withColumn("alnum_frac", F.round(alnum_frac, 6))
            .withColumn("autogen", autogen)
            .withColumn("passes", passes))


def spot_license(df: DataFrame, content_col: str = "content") -> DataFrame:
    """License detection: SPDX identifier first (authoritative when
    present), else well-known header phrases.  Adds ``license``
    (NULL when nothing matched) and ``permissive``."""
    c = F.col(content_col)
    spdx = F.nullif(F.regexp_extract(c, _SPDX_RE, 1), F.lit(""))
    header = (F.when(c.contains("MIT License"), F.lit("MIT"))
               .when(c.contains("Apache License"), F.lit("Apache-2.0"))
               .when(c.contains("GNU General Public License"),
                     F.lit("GPL-3.0-only"))
               .when(c.contains("BSD 3-Clause"), F.lit("BSD-3-Clause")))
    lic = F.coalesce(spdx, header)
    permissive = lic.isin("MIT", "Apache-2.0", "BSD-3-Clause")
    return (df
            .withColumn("license", lic)
            .withColumn("permissive",
                        F.when(lic.isNull(), F.lit(False))
                         .otherwise(permissive)))


def repo_stats(df: DataFrame,
               content_col: str = "content") -> DataFrame:
    """Per-repo corpus profile: file count, language spread, byte
    volume, and how many of the repo's files are exact duplicates of
    some other file in the corpus (vendored/forked content — the
    repo-level dedup signal used when ranking which copy to keep).

    Two aggregations: the md5-count table (hash, n) and the final
    groupBy(repo).  The join between them carries 32-byte hashes, not
    content, and is an equi-join Catalyst plans as broadcast when the
    hash-count side is small or SMJ co-partitioned on the hash
    otherwise.
    """
    hashed = df.select("repo", "lang",
                       F.length(F.col(content_col)).alias("n_bytes"),
                       F.md5(F.col(content_col)).alias("h"))
    counts = hashed.groupBy("h").agg(F.count("*").alias("n_copies"))
    joined = hashed.join(counts, "h")
    return (joined.groupBy("repo")
            .agg(F.count("*").alias("n_files"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.sum(F.when(F.col("n_copies") > 1, 1)
                        .otherwise(0)).alias("dup_files")))


# Branch-opening keywords across the battery's language families —
# one line-anchored constant pattern, so the count fuses into the
# content scan on both engines (Java regex / RE2 agree on every
# construct used: (?m), (?:...), \b, [ \t]).
_BRANCH_RE = r"(?m)^[ \t]*(?:if|elif|else if|for|while|switch|match|case)\b"


def complexity_features(df: DataFrame,
                        content_col: str = "content") -> DataFrame:
    """Per-file structural-complexity features — the maintainability
    axis of code-corpus QC (a file with pathological branch density or
    nesting is down-weighted by curation recipes the same way Gopher
    down-weights pathological prose).

    Columns added: ``n_lines``, ``n_branches`` (line-anchored branch
    keywords — the decision points of a cyclomatic-style count),
    ``branch_density`` (branches / non-blank lines, rounded 6), and
    ``max_indent`` (deepest leading-whitespace run in characters — the
    nesting-depth proxy that needs no parser).

    Scale shape: one constant-pattern ``regexp_extract_all`` size plus
    higher-order array ops over the split lines; the line array never
    leaves the row and nothing here exchanges — at 10^12 files this
    runs at scan speed alongside ``stack_quality_features``."""
    c = F.col(content_col)
    lines = _lines(c)
    nonblank = F.filter(lines, lambda x: F.trim(x) != "")
    n_nonblank = F.size(nonblank)
    n_branches = F.size(F.regexp_extract_all(c, F.lit(_BRANCH_RE), 0))
    indent = F.transform(
        nonblank,
        lambda x: F.length(F.regexp_extract(x, r"^[ \t]*", 0)))
    density = F.when(n_nonblank > 0,
                     n_branches.cast("double") / n_nonblank
                     ).otherwise(0.0)
    return (df
            .withColumn("n_lines", F.size(lines).cast("bigint"))
            .withColumn("n_branches", n_branches.cast("bigint"))
            .withColumn("branch_density", F.round(density, 6))
            .withColumn("max_indent",
                        F.coalesce(F.array_max(indent),
                                   F.lit(0)).cast("bigint")))


# Function-block battery: whole-match patterns capturing a signature
# line plus its following indented body lines — the parser-free unit
# boundary function-granular dedup runs on.
FUNCTION_BLOCK_RE: dict[str, str] = {
    "python": r"(?m)^def \w+\([^)]*\):\n(?:[ \t][^\n]*\n)*",
    "java":   r"(?m)^void \w+\([^)]*\) \{\n(?:[ \t][^\n]*\n)*",
    "c":      r"(?m)^int \w+\([^)]*\) \{\n(?:[ \t][^\n]*\n)*",
    "go":     r"(?m)^func \w+\([^)]*\) \{\n(?:[ \t][^\n]*\n)*",
    "rust":   r"(?m)^fn \w+\([^)]*\) \{\n(?:[ \t][^\n]*\n)*",
}

# Type-1 normalization: comments out, whitespace runs to one space.
_COMMENT_RE = r"(?m)(#|//)[^\n]*"
_WS_RUN_RE = r"[ \t\n]+"


def extract_functions(df: DataFrame,
                      lang_col: str = "lang",
                      content_col: str = "content") -> DataFrame:
    """One row per extracted function block: adds ``fn_body`` (the raw
    matched text) and ``body_hash`` (md5 of the Type-1-normalized
    body: comments stripped, whitespace runs collapsed — Roy & Cordy's
    clone taxonomy level 1).  Battery-dispatched whole-match
    ``regexp_extract_all`` (group 0), row-local explode — the same
    scan-fused shape as every other battery."""
    lang = F.col(lang_col)
    c = F.col(content_col)
    expr = F.array().cast("array<string>")
    for fam, pat in FUNCTION_BLOCK_RE.items():
        expr = F.when(lang == fam,
                      F.regexp_extract_all(c, F.lit(pat), 0)
                      ).otherwise(expr)
    body = F.col("fn_body")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(body, _COMMENT_RE, ""), _WS_RUN_RE, " "))
    return (df.withColumn("fn_body", F.explode(expr))
            .withColumn("body_hash", F.md5(norm))
            .drop(content_col))


def function_clones(df: DataFrame,
                    lang_col: str = "lang",
                    content_col: str = "content",
                    repo_col: str = "repo") -> DataFrame:
    """Function-granularity clone detection — the level below the
    file-hash dedup family: identical-modulo-whitespace-and-comments
    function bodies (Type-1 clones) grouped corpus-wide, the signal
    The Stack v2 and code-clone studies use to strip boilerplate
    functions that file-level dedup can never see (two distinct files
    sharing one vendored function).

    Output: one row per clone class with >1 copy —
    ``(body_hash, n_copies, n_repos, n_files)``.

    Scale shape: extraction is scan-fused (see ``extract_functions``);
    the ONLY exchange is the map-side-combined groupBy on the 32-byte
    body hash — shuffled rows are (hash, partial counts), never
    bodies.  A corpus-wide boilerplate function (the hub key) is
    pre-collapsed per map task by the partial agg, so skew is bounded
    by task count, not copy count."""
    fns = extract_functions(df, lang_col, content_col)
    return (fns
            .groupBy("body_hash")
            .agg(F.count("*").alias("n_copies"),
                 F.countDistinct(repo_col).alias("n_repos"),
                 F.countDistinct(repo_col, "path").alias("n_files"))
            .filter(F.col("n_copies") > 1))


# The recognized license-header shapes, anchored at the START of the
# file (no (?m) — only a leading header is a header).  Alternation
# order is fixed so both engines strip the same bytes.
LICENSE_HEADER_RE = (
    r"^(?:SPDX-License-Identifier:[^\n]*\n"
    r"|Apache License\nVersion 2\.0\n"
    r"|GNU General Public License v3\n)")


def strip_license_header(df: DataFrame,
                         content_col: str = "content") -> DataFrame:
    """Remove a recognized license header from the start of each file
    — the preprocessing step The Stack applies before training-data
    packing (headers are near-duplicated boilerplate that both skews
    dedup and leaks license text into generations).

    Adds ``had_license_header`` and ``clean_sha`` (sha256 hex of the
    stripped content — the per-row invariant two engines can verify
    without shipping content, same discipline as
    codekg.scan_secrets' ``redacted_sha``), and rewrites
    ``content_col`` to the stripped text.

    Scale shape: one anchored constant-pattern ``regexp_replace`` +
    sha2, fused into the scan; zero exchanges at any scale."""
    c = F.col(content_col)
    stripped = F.regexp_replace(c, LICENSE_HEADER_RE, "")
    return (df
            .withColumn("had_license_header", stripped != c)
            .withColumn("clean_sha", F.sha2(stripped, 256))
            .withColumn(content_col, stripped))


def fork_candidates(files: DataFrame, repo_col: str = "repo",
                    hash_col: str = "h", tau: float = 0.5,
                    max_hash_degree: int = 50,
                    pack_pairs: bool = True) -> DataFrame:
    """Repo-pair fork/vendor detection: Jaccard similarity of two
    repos' file-content-hash sets (the signal The Stack uses to rank
    which copy of a forked repository to keep).

    Input: (repo, file-content-hash) rows.  Output: (repo_a, repo_b,
    shared, jaccard) for pairs with jaccard >= tau.

    Scale design: the pair generator is a self-equi-join on the hash,
    which fans out d^2 pairs for a hash present in d repos — so hub
    hashes (empty __init__.py, LICENSE boilerplate, vendored libs in
    thousands of repos) are capped at ``max_hash_degree`` FIRST: they
    carry no fork signal (they are corpus-wide boilerplate by
    definition) and removing them bounds the fan-out at H^2 per hash.
    Same cap discipline as the co-occurrence hub cap
    (operators/cooccur.py).  All shuffled rows are 32-byte hashes +
    repo ids; content never shuffles.

    Pair generation is the groupBy(hash)-then-combinations plan, NOT
    a self-join: the hub list (hashes over the cap) is computed by one
    map-side-combined count and BROADCAST into an anti-join — it is
    tiny by construction (hubs ARE the corpus-wide boilerplate), so
    the capped table costs no wide join.  One groupBy(hash) then
    gathers each hash's deduped, sorted repo list (bounded at cap
    entries post-anti-join), array transforms emit the C(d,2) ordered
    pairs inside the row, and only pair rows hit the second shuffle.
    Repo sizes come from exploding the same grouped table — the raw
    input is scanned twice total (degree pass + collect pass), never
    joined against itself.  Everything that shuffles in volume is
    keyed by 8-byte xxhash64 repo ids (the LSH shingle-key
    discipline); names rejoin only the filtered survivor pairs via the
    broadcast id->name map.  Phase profile at sf0.1/local[32], 0%
    loaded-probe steal (BENCH/PROFILE_r5.md session 3): degree 1.8 s,
    grouped ~3 s, pair agg 3.6-3.8 s — the pair aggregation dominates
    on the bench fixture because it is worst-case DENSE (every hash
    shared by ~30 repos -> all C(1000,2) repo pairs materialize); real
    code corpora are sparse in exactly the dimension the hub cap
    enforces."""
    # 8-byte keys for BOTH sides of everything that shuffles in volume
    # (the LSH shingle-key discipline): the file-content hash collapses
    # to xxhash64 right at the scan — degree pass, anti-join and group
    # pass all move (int64, int64) rows instead of 32-hex + repo-name
    # strings (~3x smaller, primitive-key hash maps).  Pair identity is
    # unchanged modulo 2^-64 collisions, which the oracle would expose.
    # repo ids are DENSE ranks (1..|repos|, name order) instead of
    # xxhash64: a pair then packs into ONE int64 (a*2^32+b), so the
    # C(d,2)-per-hash pair aggregation — the operator's dominant cost,
    # tens of millions of nearly-unique keys on dense fixtures — runs
    # on the single-primitive-key vectorized hash map and shuffles 8
    # bytes per key instead of a 16-byte struct.  The rank map is
    # |repos| rows (same broadcast-bound contract the name map always
    # had); the single-partition rank window is the same size.
    # pack_pairs=False keeps xxhash64 repo ids and a struct pair key:
    # the dense-rank map costs a per-input-row broadcast probe plus the
    # rank window, which only pays for itself when the pair aggregation
    # is the dominant cost (tens of millions of pairs — the fork
    # fixture); low-pair-volume callers (shared_package_graph) measured
    # ~1s slower WITH packing at sf1.0 and opt out.
    if pack_pairs:
        rmap = (files.select(F.col(repo_col).alias("_name")).distinct()
                .select("_name",
                        F.row_number().over(Window.orderBy("_name"))
                        .cast("long").alias("_rid")))
        f = (files.select(F.col(repo_col).alias("_name"),
                          F.xxhash64(F.col(hash_col)).alias("_h"))
             .join(F.broadcast(rmap), "_name")
             .select("_rid", "_h"))
    else:
        rmap = (files.select(F.col(repo_col).alias("_name")).distinct()
                .select("_name",
                        F.xxhash64(F.col("_name")).alias("_rid")))
        f = files.select(F.xxhash64(F.col(repo_col)).alias("_rid"),
                         F.xxhash64(F.col(hash_col)).alias("_h"))
    deg = (f.groupBy("_h")
           .agg(F.countDistinct("_rid").alias("_d")))
    hubs = deg.filter(F.col("_d") > max_hash_degree).select("_h")
    grouped = (f.join(F.broadcast(hubs), "_h", "left_anti")
               .groupBy("_h")
               .agg(F.sort_array(F.collect_set("_rid")).alias("_rs")))
    sz = (grouped.select(F.explode("_rs").alias("_rid"))
          .groupBy("_rid").agg(F.count("*").alias("_n")))
    if pack_pairs:
        two32 = F.lit(1 << 32)
        combos = F.filter(
            F.flatten(F.transform(
                F.col("_rs"),
                lambda x: F.transform(
                    F.col("_rs"),
                    lambda y: F.when(x < y, x * two32 + y)))),
            lambda v: v.isNotNull())
        pairs = (grouped
                 .select(F.explode(combos).alias("_pk"))
                 .groupBy("_pk")
                 .agg(F.count("*").alias("shared"))
                 .select(F.shiftright("_pk", 32).alias("_ra"),
                         F.col("_pk").bitwiseAND(F.lit((1 << 32) - 1))
                         .alias("_rb"), "shared"))
    else:
        combos = F.filter(
            F.flatten(F.transform(
                F.col("_rs"),
                lambda x: F.transform(
                    F.col("_rs"),
                    lambda y: F.struct(x.alias("a"), y.alias("b"))))),
            lambda s: s["a"] < s["b"])
        pairs = (grouped
                 .select(F.explode(combos).alias("_p"))
                 .groupBy(F.col("_p.a").alias("_ra"),
                          F.col("_p.b").alias("_rb"))
                 .agg(F.count("*").alias("shared")))
    sa = sz.select(F.col("_rid").alias("_ra"),
                   F.col("_n").alias("_na"))
    sb = sz.select(F.col("_rid").alias("_rb"),
                   F.col("_n").alias("_nb"))
    jac = (F.col("shared").cast("double")
           / (F.col("_na") + F.col("_nb") - F.col("shared")))
    survivors = (pairs.join(sa, "_ra").join(sb, "_rb")
                 .filter(jac >= tau)
                 .select("_ra", "_rb", "shared",
                         F.round(jac, 6).alias("jaccard")))
    ma = rmap.select(F.col("_rid").alias("_ra"),
                     F.col("_name").alias("_name_a"))
    mb = rmap.select(F.col("_rid").alias("_rb"),
                     F.col("_name").alias("_name_b"))
    named = (survivors.join(F.broadcast(ma), "_ra")
             .join(F.broadcast(mb), "_rb"))
    # pair identity is unordered; re-order by NAME for the output
    # contract (hash order and name order differ)
    return named.select(
        F.least("_name_a", "_name_b").alias("repo_a"),
        F.greatest("_name_a", "_name_b").alias("repo_b"),
        "shared", "jaccard")


def curate_code_corpus(files: DataFrame, content_col: str = "content",
                       require_permissive: bool = False):
    """The composed curation pipeline — one call from a raw
    (repo, path, commit, lang, content) table to a training-ready
    corpus: Stack quality gates -> (optional) permissive-license
    gate -> exact content dedup keeping the lexicographically-first
    (repo, path) copy.  Returns (kept, report) where ``report`` is
    one row per stage with its surviving count — the numbers a corpus
    card publishes.

    Plan: the gates are scan-fused column exprs on one pass; dedup
    adds one window on the 32-byte content hash.  The report's counts
    are conditional aggregates over the gated frame."""
    from pyspark.sql import Window

    gated = spot_license(stack_quality_features(files, content_col),
                         content_col)
    if require_permissive:
        keep = F.col("passes") & F.col("permissive")
    else:
        keep = F.col("passes")
    gated = gated.withColumn("_keep", keep)

    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(
        "repo", "path")
    kept = (gated.filter("_keep")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_keep"))

    spark = files.sparkSession
    counts = gated.agg(
        F.count("*").alias("c_total"),
        F.sum(F.when(F.col("passes"), 1).otherwise(0)).alias("c_q"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("c_lic"),
        F.countDistinct(
            F.when(keep, F.md5(F.col(content_col)))).alias("c_uniq"))
    stages = F.array(*[
        F.struct(F.lit(s).alias("stage"),
                 F.col(c).cast("bigint").alias("kept"))
        for s, c in [("1_total", "c_total"), ("2_quality", "c_q"),
                     ("3_license", "c_lic"), ("4_unique", "c_uniq")]])
    report = (counts.select(F.explode(stages).alias("s"))
              .select("s.stage", "s.kept"))
    return kept, report


def winnow_fingerprints(files: DataFrame, content_col: str = "content",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every k-char gram, slide a
    w-hash window, keep each window's minimum; the distinct kept
    hashes are the document's fingerprint set.  Guarantees every
    shared substring of length >= k+w-1 contributes at least one
    shared fingerprint — the local (position-robust) signal exact
    hashing misses and MinHash only approximates.

    Output: (id, fp) distinct rows.  Feeding them to
    ``fork_candidates(fps, repo_col=id, hash_col='fp')`` yields the
    MOSS similarity ranking (test-asserted composition).

    Plan: grams, hashes, window minima, and dedup all happen INSIDE
    the row via higher-order array functions — nothing explodes until
    the final fingerprint emission, so the heavy part is scan-fused.
    The hash is the engine-portable 13-hex md5 integer (the
    KMV/CMS construction), so the fingerprint sets hash-match a
    DuckDB twin exactly."""
    c = F.col(content_col)
    n_grams = F.greatest(F.length(c) - (k - 1), F.lit(0))
    # 1..n_grams gram start positions -> 13-hex md5 ints
    hs = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(F.substring(F.md5(F.substring(c, i, k)),
                                     1, 13), 16, 10).cast("long"))
    n_windows = F.greatest(F.size(hs) - (w - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda t: F.array_min(F.slice(hs, t, w)))
    fps = F.array_distinct(mins)
    return (files
            .select(id_col, F.explode(fps).alias("fp"))
            .distinct())


# governing-license restrictiveness: any copyleft file contaminates
# the repo; an SPDX id outside the known set is treated as MOST
# restrictive (conservative compliance posture — unknown means a
# lawyer has not cleared it).  Rank ties break on license name.
def repo_language_profile(files: DataFrame,
                          content_col: str = "content") -> DataFrame:
    """GitHub-linguist-style per-repo language composition: one row
    per (repo, lang) with file/byte counts, the repo byte fraction,
    and the dominant-language flag (ties break to lang name) — the
    stratum key language-balanced sampling and per-language mixing
    weights are computed from.

    Scale shape: ONE map-side-combined groupBy(repo, lang) collapses
    the corpus to |repos| x |langs| rows BEFORE the two windows (repo
    total + argmax), which run on that tiny aggregate keyed by repo —
    at 10^12 files the exchange carries ~30-byte aggregate rows
    only."""
    from pyspark.sql import Window
    agg = (files
           .groupBy("repo", "lang")
           .agg(F.count("*").alias("n_files"),
                F.sum(F.length(F.col(content_col))).alias("n_bytes")))
    wr = Window.partitionBy("repo")
    wo = Window.partitionBy("repo").orderBy(F.desc("n_bytes"),
                                            F.asc("lang"))
    return (agg
            .withColumn("lang_frac",
                        F.round(F.col("n_bytes")
                                / F.sum("n_bytes").over(wr), 6))
            .withColumn("is_dominant",
                        F.row_number().over(wo) == 1))


# Vendored/generated directory conventions (the exclusion list The
# Stack and linguist apply before any content-level filter).
VENDORED_DIR_RE = (r"(^|/)(vendor|vendors|node_modules|third_party"
                   r"|thirdparty|\.git|dist|build)/")


def vendored_fraction(files: DataFrame,
                      path_col: str = "path") -> DataFrame:
    """Per-repo vendored-code profile: how many files live under
    vendored/generated directory conventions and the fraction they
    make up — computed from the file LISTING alone (content never
    read), the cheap pre-filter a curation run applies before paying
    for content scans.

    Output: ``(repo, n_files, n_vendored, vendored_frac)``.  One
    map-side-combined groupBy; the rlike is scan-fused."""
    hit = F.col(path_col).rlike(VENDORED_DIR_RE)
    return (files
            .groupBy("repo")
            .agg(F.count("*").alias("n_files"),
                 F.sum(hit.cast("bigint")).alias("n_vendored"))
            .withColumn("vendored_frac",
                        F.round(F.col("n_vendored")
                                / F.col("n_files"), 6)))


# Identifier shape: the token boundary subtoken mining splits on.
_IDENT_RE = r"[A-Za-z_][A-Za-z0-9_]*"
_CAMEL_SPLIT_RE = r"([a-z0-9])([A-Z])"


def identifier_subtokens(files: DataFrame,
                         content_col: str = "content",
                         min_count: int = 1) -> DataFrame:
    """Corpus-wide identifier-subtoken frequency table: identifiers
    extracted from code, split at snake_case underscores and camelCase
    humps, lower-cased, counted — the statistic code-tokenizer vocab
    construction and identifier-naming studies run on.

    Output: ``(subtoken, n_occurrences, n_files)`` for subtokens of
    length >= 2 seen at least ``min_count`` times.

    Scale shape: extraction, hump-splitting (one constant-pattern
    ``regexp_replace`` inserting a space at each boundary), and the
    underscore split all happen in-row on the array; the ONLY exchange
    is the map-side-combined groupBy on the subtoken — shuffled rows
    are (word, partial count) pairs bounded by |vocab| per task, the
    wordpiece-vocab discipline (operators/wordpiece.py)."""
    c = F.col(content_col)
    ids = F.regexp_extract_all(c, F.lit(_IDENT_RE), 0)
    subs = F.flatten(F.transform(
        ids,
        lambda i: F.split(
            F.lower(F.regexp_replace(i, _CAMEL_SPLIT_RE, r"$1 $2")),
            "[_ ]+")))
    out = (files
           .select("repo", "path", F.explode(subs).alias("subtoken"))
           .filter(F.length("subtoken") >= 2)
           .groupBy("subtoken")
           .agg(F.count("*").alias("n_occurrences"),
                F.countDistinct("repo", "path").alias("n_files")))
    if min_count > 1:
        out = out.filter(F.col("n_occurrences") >= min_count)
    return out


_LICENSE_RANK = {"GPL-3.0-only": 4, "Apache-2.0": 3,
                 "BSD-3-Clause": 2, "MIT": 1}


def resolve_repo_license(df: DataFrame,
                         content_col: str = "content") -> DataFrame:
    """Repo-level license resolution: roll the per-file license spots
    up to the governing license per repo — the entity-linking step
    that turns file-level SPDX/header mentions into one
    (repo, licensed_under, license) KG fact, with the conservative
    rule real compliance gates use (the most restrictive license
    present governs; unknown SPDX ids rank above everything known).

    Output: (repo, license, n_files, n_licensed, permissive) — the
    governing license, how many files carry IT, how many files carry
    ANY license, and whether the governing license is permissive.
    Repos with no licensed files produce no row (explicitly absent,
    not NULL — the downstream filter drops them anyway).

    Scale: spot_license is scan-fused; one groupBy(repo, license) with
    map-side combine reduces to at most |repos| x |licenses| rows; the
    governing pick is a window over that tiny aggregate, and content
    never shuffles."""
    from pyspark.sql import Window
    spotted = (spot_license(df, content_col)
               .filter(F.col("license").isNotNull()))
    per = (spotted.groupBy("repo", "license")
           .agg(F.count("*").alias("n_files")))
    rank = F.lit(5)
    for name, r in _LICENSE_RANK.items():
        rank = F.when(F.col("license") == name, F.lit(r)).otherwise(rank)
    w = Window.partitionBy("repo").orderBy(
        rank.desc(), F.col("license").asc())
    tot = Window.partitionBy("repo")
    return (per
            .withColumn("n_licensed", F.sum("n_files").over(tot))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("repo", "license", "n_files", "n_licensed",
                    F.col("license").isin("MIT", "Apache-2.0",
                                          "BSD-3-Clause")
                    .alias("permissive")))


# Type-2 normalization: after the Type-1 pass (comments out), string
# literals are blinded to S, numeric literals to N, and every
# identifier that is not a reserved word to ID — Roy & Cordy's
# taxonomy level 2 (clones identical up to renaming).  The keyword
# list is the cross-language structural skeleton: two bodies that
# differ in keywords are NOT the same computation and must not merge.
_T2_STRING_RES = (r"'[^'\n]*'", r'"[^"\n]*"')
_T2_TOKEN_RE = r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+(?:\.[0-9]+)?|[^A-Za-z0-9_ \t\n]"
T2_KEYWORDS = (
    "def", "return", "if", "else", "elif", "for", "while", "in",
    "import", "from", "class", "pass", "break", "continue", "None",
    "True", "False", "and", "or", "not", "void", "int", "func", "fn",
    "let", "var", "const", "static", "public", "new", "S", "N",
)


def type2_clones(df: DataFrame,
                 lang_col: str = "lang",
                 content_col: str = "content",
                 repo_col: str = "repo") -> DataFrame:
    """Function-granularity Type-2 clone detection: bodies identical
    after identifier renaming and literal substitution (Roy & Cordy
    2007 level 2) — the class file- and Type-1-dedup can never see
    (the vendored helper someone renamed).  Token-class hashing, the
    SourcererCC/NiCad preprocessing shape, parser-free.

    Pipeline per function block (all scan-fused column exprs): strip
    comments -> blind string literals to S -> tokenize with ONE
    constant-pattern ``regexp_extract_all`` -> map each token through
    the keyword/N/ID classifier with ``transform`` (codegen'd, no
    UDF) -> space-join -> md5.

    Output: one row per Type-2 clone class with >1 copy —
    ``(t2_hash, n_copies, n_repos, n_files, n_t1_classes)`` where
    ``n_t1_classes`` counts the distinct Type-1 hashes the class
    merges (>1 = a rename Type-1 dedup missed).

    Scale shape: identical to ``function_clones`` — extraction and
    normalization fuse into the content scan; the ONLY exchange is
    the map-side-combined groupBy on the 32-byte t2 hash."""
    fns = extract_functions(df, lang_col, content_col)
    body = F.regexp_replace(F.col("fn_body"), _COMMENT_RE, "")
    for pat in _T2_STRING_RES:
        body = F.regexp_replace(body, pat, "S")
    toks = F.regexp_extract_all(body, F.lit(_T2_TOKEN_RE), 0)
    cls = F.transform(
        toks,
        lambda t: (F.when(t.isin(*T2_KEYWORDS), t)
                   .when(t.rlike(r"^[0-9]"), F.lit("N"))
                   .when(t.rlike(r"^[A-Za-z_]"), F.lit("ID"))
                   .otherwise(t)))
    return (fns
            .withColumn("t2_hash", F.md5(F.concat_ws(" ", cls)))
            .groupBy("t2_hash")
            .agg(F.count("*").alias("n_copies"),
                 F.countDistinct(repo_col).alias("n_repos"),
                 F.countDistinct(repo_col, "path").alias("n_files"),
                 F.countDistinct("body_hash").alias("n_t1_classes"))
            .filter(F.col("n_copies") > 1))


# Halstead token classes (shared verbatim with the DuckDB oracle).
# Multi-character operators listed FIRST so alternation prefers them.
HALSTEAD_OP_RE = (r"(->|=>|==|!=|<=|>=|&&|\|\||<<|>>|\+\+|--"
                  r"|[-+*/%=<>!&|^~?:.,;(){}\[\]])")
HALSTEAD_NUM_RE = r"\b\d+(?:\.\d+)?\b"
HALSTEAD_STR_RE = "\"[^\"]*\"|'[^']*'"


def halstead_metrics(df: DataFrame,
                     content_col: str = "content") -> DataFrame:
    """Halstead complexity metrics (Halstead 1977) per file, the
    size/effort family complementing the cyclomatic branch counts:
    n1/n2 = distinct operators/operands, N1/N2 = their totals,
    vocabulary n = n1+n2, length N = N1+N2, volume V = N·log2(n),
    difficulty D = (n1/2)·(N2/n2), effort E = D·V.

    Token classes are the standard lexical approximation: operators
    from a fixed multi-char-first alternation, operands = identifiers
    + number literals + string literals.  EVERYTHING is in-row
    (regexp_extract_all + array_distinct on the token arrays) — the
    metrics fuse into the content scan with zero exchanges at any
    scale, the stack_quality_features discipline.  log2 is computed
    as ln(x)/ln(2) in BOTH engines so the doubles agree bit-for-bit;
    files with no operands return NULL difficulty/effort instead of
    dividing by zero."""
    c = F.col(content_col)
    ops = F.regexp_extract_all(c, F.lit(HALSTEAD_OP_RE), 0)
    ids = F.regexp_extract_all(c, F.lit(_IDENT_RE), 0)
    nums = F.regexp_extract_all(c, F.lit(HALSTEAD_NUM_RE), 0)
    strs = F.regexp_extract_all(c, F.lit(HALSTEAD_STR_RE), 0)
    operands = F.concat(ids, nums, strs)
    out = df.withColumns({
        "_n1": F.size(F.array_distinct(ops)),
        "_n2": F.size(F.array_distinct(operands)),
        "_bn1": F.size(ops),
        "_bn2": F.size(operands),
    })
    n = F.col("_n1") + F.col("_n2")
    big_n = F.col("_bn1") + F.col("_bn2")
    volume = F.when(n > 0, big_n * F.log(n.cast("double"))
                    / float(__import__("math").log(2.0)))
    difficulty = F.when(F.col("_n2") > 0,
                        (F.col("_n1") / 2.0)
                        * (F.col("_bn2") / F.col("_n2")))
    return out.select(
        "doc_id", "repo", "path",
        F.col("_n1").alias("n1"), F.col("_n2").alias("n2"),
        F.col("_bn1").alias("big_n1"), F.col("_bn2").alias("big_n2"),
        F.round(volume, 6).alias("volume"),
        F.round(difficulty, 6).alias("difficulty"),
        F.round(difficulty * volume, 6).alias("effort"))


def clone_license_conflicts(files: DataFrame,
                            lang_col: str = "lang",
                            content_col: str = "content",
                            repo_col: str = "repo",
                            max_files_per_class: int = 32) -> DataFrame:
    """License-compliance risk pairs: two files in DIFFERENT repos,
    carrying different spotted licenses, sharing a Type-1-identical
    function body — the cross-repo code flow a provenance/compliance
    gate must review (code copied across a permissive/copyleft
    boundary contaminates the receiving repo; The Stack's per-repo
    license filter misses exactly this).  File-level licenses, not
    the repo-dominant resolution, deliberately: the conflict IS the
    disagreement between the two carrying files.

    Composition of two existing plans: ``extract_functions`` body
    hashes (only the 32-byte hash + file key shuffles) and
    ``spot_license`` (scan-fused, content never shuffles).  The pair
    join is CO-PARTITIONED on body_hash behind a hub cap BEFORE
    pairing: a clone class keeps only its first ``max_files_per_class``
    members in (repo, path) order — deterministic TRUNCATION, not the
    drop-the-class rule, so a corpus-wide boilerplate body still
    surfaces a bounded, reproducible sample of its conflicts
    (C(32,2) pairs max) instead of vanishing at scale; the license
    attach is a co-partitioned (repo, path) join, never a broadcast
    of a corpus-sized table.

    Output: (body_hash, repo_a, path_a, license_a, repo_b, path_b,
    license_b, copyleft_mix) with (repo_a, path_a) < (repo_b,
    path_b), repos and licenses differing; copyleft_mix marks
    permissive-vs-restrictive crossings."""
    from pyspark.sql import Window
    fns = extract_functions(files, lang_col, content_col)
    per = (fns.select("body_hash", F.col(repo_col).alias("repo"),
                      "path").distinct())
    w = Window.partitionBy("body_hash").orderBy("repo", "path")
    per = (per.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= max_files_per_class)
           .drop("_rn"))
    lic = (spot_license(files)
           .filter(F.col("license").isNotNull())
           .select(F.col(repo_col).alias("repo"), "path",
                   "license", "permissive"))
    keyed = per.join(lic, ["repo", "path"])

    def side(tag):
        return keyed.select(
            "body_hash", F.col("repo").alias(f"repo_{tag}"),
            F.col("path").alias(f"path_{tag}"),
            F.col("license").alias(f"license_{tag}"),
            F.col("permissive").alias(f"_perm_{tag}"))

    return (side("a").join(side("b"), "body_hash")
            .filter((F.col("repo_a") < F.col("repo_b"))
                    | ((F.col("repo_a") == F.col("repo_b"))
                       & (F.col("path_a") < F.col("path_b"))))
            .filter(F.col("repo_a") != F.col("repo_b"))
            .filter(F.col("license_a") != F.col("license_b"))
            .withColumn("copyleft_mix",
                        F.col("_perm_a") != F.col("_perm_b"))
            .drop("_perm_a", "_perm_b"))


ENTROPY_CANDIDATE_RE = r"[A-Za-z0-9+/=_\-]{20,}"
ENTROPY_BITS_THRESHOLD = 4.0


def entropy_secrets(files: DataFrame, content_col: str = "content",
                    round_to: int = 6) -> DataFrame:
    """High-entropy string detection — the trufflehog-style
    complement to the pattern battery in ``scan_secrets``: regex
    rules catch KNOWN key shapes (AKIA…, PEM headers); a random
    40-char API token with no known prefix only falls to the entropy
    test.  Candidates are long base64/hex-alphabet runs; each is
    scored by character-level Shannon entropy (bits/char) and flagged
    above ``ENTROPY_BITS_THRESHOLD`` — natural-language and
    identifier runs sit well below it, random key material above.

    The finding is emitted REDACTED (md5 + 8-char prefix + length),
    never the candidate itself — a secret scanner that writes secrets
    into its own report is a vulnerability.

    Scale shape: candidate extraction is a scan-fused
    ``regexp_extract_all`` explode; the per-candidate character
    histogram is an in-row explode bounded by candidate length; both
    aggregates are keyed by the candidate occurrence, map-side
    combined.  Exact integer counts feed the identical log2
    expression in both engines.

    Output: (repo, path, cand_hash, prefix, n_chars, entropy_bits,
    is_high_entropy)."""
    cands = (files.select(
        "repo", "path",
        F.explode(F.regexp_extract_all(F.col(content_col),
                                       F.lit(ENTROPY_CANDIDATE_RE), 0))
        .alias("cand"))
        .distinct())
    chars = (cands.select(
        "repo", "path", "cand",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("cand")),
            lambda i: F.col("cand").substr(i, F.lit(1))))
        .alias("ch")))
    counts = (chars.groupBy("repo", "path", "cand", "ch")
              .agg(F.count("*").alias("n_c")))
    n = F.sum("n_c").cast("double")
    ent = (F.log2(n) - F.sum(F.col("n_c").cast("double")
                             * F.log2(F.col("n_c").cast("double"))) / n)
    per = (counts.groupBy("repo", "path", "cand")
           .agg(F.round(ent, round_to).alias("entropy_bits")))
    return per.select(
        "repo", "path",
        F.md5("cand").alias("cand_hash"),
        F.substring("cand", 1, 8).alias("prefix"),
        F.length("cand").cast("long").alias("n_chars"),
        "entropy_bits",
        (F.col("entropy_bits") > ENTROPY_BITS_THRESHOLD)
        .alias("is_high_entropy"))
