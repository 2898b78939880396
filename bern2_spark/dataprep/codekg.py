"""Code-entity knowledge-graph extraction — the north rule's literal
shape, re-expressed over the source-code-repository table
``(repo, path, commit, lang, content)``.

This is the code-corpus twin of the biomedical flagship and reuses its
stage grammar one-for-one:

==================  =============================  =======================
flagship stage      biomedical (pipeline.py)       code (this module)
==================  =============================  =======================
mention detection   multi-TYPE BIO tagger          multi-LANGUAGE import /
                    (gene/disease/drug/...)        declaration regex
                                                   battery (python / java /
                                                   c / go / rust), one
                                                   constant-pattern
                                                   ``regexp_extract_all``
                                                   per language dispatched
                                                   by the ``lang`` column
entity linking      sieve normalize -> CUI         root-package
                                                   normalization
                                                   (``a.b.c`` -> ``a``,
                                                   ``x.h`` -> ``x``,
                                                   ``m::n`` -> ``m``)
canonicalize        groupBy (surface, type, CUI)   groupBy
                                                   (repo, pred, entity)
materialize         (doc, has_<type>, CUI)         (subj, pred, obj,
                    triples                        n_mentions, n_files)
==================  =============================  =======================

The mention-detection analogy is structural, not cosmetic: BERN2 runs
one tagger per entity TYPE over every document
(/root/reference/multi_ner/main.py:702-801 fans the same text through
dmis-lab per-type heads); this module runs one anchored regex per
LANGUAGE over every file, dispatched by ``lang`` exactly as the
reference dispatches normalizers by entity type
(/root/reference/bern2.py routes mentions per type).

100-TB posture
--------------
* ``extract_imports`` / ``extract_defs``: constant-pattern
  ``regexp_extract_all`` under a ``lang`` CASE — every pattern is
  foldable, so the whole battery stays inside whole-stage codegen and
  fuses with the content scan; zero UDFs, zero exchanges.  The explode
  is row-local (a file's own import list) and never reorders data.
* ``code_triples``: ONE shuffle — the groupBy on
  ``(repo, pred, entity)``.  Map-side partial aggregation collapses a
  repo's repeated imports before the exchange, so the shuffled volume
  is bounded by |repos| x |distinct packages|, not by file count.  A
  mono-repo importing one hot package from 10^9 files still ships one
  partial row per map task (AQE skew-join territory only if a single
  repo's DISTINCT package set is itself huge).
* ``scan_secrets``: chained constant-pattern ``regexp_replace`` /
  ``regexp_extract_all`` column exprs (gitleaks/detect-secrets-style
  public patterns), fully codegen; the sha256 of the redacted content
  gives a per-row invariant the north rule can verify cheaply at any
  scale.
* At 10^12 files every operator here is scan-dominated; only the
  triple groupBy exchanges rows, and those rows are ~40-byte
  aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Per-language battery: (import-regex, declaration-regex, root-pkg
# separator kind).  Patterns are anchored per line ((?m)) and identical
# strings are used by the DuckDB oracles — both engines compile them
# with their own engine (Java regex / RE2); every construct used here
# ((?m), \w, character classes) means the same thing in both.
LANG_BATTERY: dict[str, tuple[str, str, str]] = {
    "python": (r"(?m)^import ([A-Za-z_][A-Za-z0-9_.]*)$",
               r"(?m)^def (\w+)\(", "dot"),
    "java":   (r"(?m)^import ([A-Za-z_][A-Za-z0-9_.]*);$",
               r"(?m)^void (\w+)\(", "dot"),
    "c":      (r"(?m)^#include <([A-Za-z_][A-Za-z0-9_./]*)>$",
               r"(?m)^int (\w+)\(", "header"),
    "go":     (r"(?m)^import \"([^\"]+)\"$",
               r"(?m)^func (\w+)\(", "slash"),
    "rust":   (r"(?m)^use ([A-Za-z_][A-Za-z0-9_:]*);$",
               r"(?m)^fn (\w+)\(", "colons"),
}

# Call-site battery: one anchored pattern per language capturing the
# callee name of an indented bare call statement (the cross-language
# statement shape `    name(...);?` — C-family statements carry the
# trailing semicolon, python/go do not).  Same engine-portable
# construct set as LANG_BATTERY ((?m), [ \t], \w) so the DuckDB twins
# compile the identical strings.
CALL_BATTERY: dict[str, str] = {
    "python": r"(?m)^[ \t]+(\w+)\(\)$",
    "java":   r"(?m)^[ \t]+(\w+)\(\);$",
    "c":      r"(?m)^[ \t]+(\w+)\(\);$",
    "go":     r"(?m)^[ \t]+(\w+)\(\)$",
    "rust":   r"(?m)^[ \t]+(\w+)\(\);$",
}

# Manifest battery: version-PINNED dependency declarations, dispatched
# by the manifest FILENAME (a different axis than the lang-dispatched
# source batteries — ecosystems declare dependencies in well-known
# files, which is how The Stack and dependency-graph products mine
# them).  Group 1 = package name, group 2 = pinned version; the two
# regexp_extract_all calls over the same pattern yield equal-length
# arrays by construction, zipped positionally.
MANIFEST_BATTERY: dict[str, str] = {
    "requirements.txt":
        r"(?m)^([A-Za-z_][A-Za-z0-9_.\-]*)==([0-9][0-9A-Za-z.\-]*)$",
    "go.mod":
        r"(?m)^require ([A-Za-z0-9_./\-]+) v([0-9][0-9A-Za-z.\-]*)$",
    "Cargo.toml":
        r'(?m)^([A-Za-z_][A-Za-z0-9_\-]*) = "([0-9][0-9A-Za-z.\-]*)"$',
}

# Public secret-detection patterns (the detect-secrets / gitleaks
# rule shapes: AWS access-key id, PEM private-key header, generic
# quoted api-key assignment).
SECRET_PATTERNS: dict[str, str] = {
    "aws": r"AKIA[0-9A-Z]{16}",
    "privkey": r"-----BEGIN [A-Z ]*PRIVATE KEY-----",
    "apikey": r"(?i)api[_-]?key\s*[:=]\s*[\"'][^\"']{8,}[\"']",
}


def _root_pkg(module: Column, kind: str) -> Column:
    """Entity linking for a module reference: normalize to the root
    package that names the dependency (the code analog of the sieve's
    surface -> CUI step)."""
    if kind == "dot":
        return F.element_at(F.split(module, r"\."), 1)
    if kind == "header":  # strip trailing .h, then first path segment
        return F.element_at(
            F.split(F.regexp_replace(module, r"\.h$", ""), "/"), 1)
    if kind == "slash":
        return F.element_at(F.split(module, "/"), 1)
    if kind == "colons":
        return F.element_at(F.split(module, "::"), 1)
    raise ValueError(f"unknown root-pkg kind: {kind}")


def _dispatch(lang: Column, content: Column, which: int) -> Column:
    """CASE over the per-language battery; every regexp_extract_all
    pattern is a foldable literal so codegen keeps the whole battery
    JVM-side.  Unknown languages yield an empty array (no mentions)."""
    expr = F.array().cast("array<string>")
    for name, pats in LANG_BATTERY.items():
        expr = F.when(lang == name,
                      F.regexp_extract_all(content, F.lit(pats[which]), 1)
                      ).otherwise(expr)
    return expr


def extract_imports(df: DataFrame,
                    lang_col: str = "lang",
                    content_col: str = "content") -> DataFrame:
    """One row per import mention: adds ``module`` (the literal
    reference) and ``root_pkg`` (the linked entity).  Files without
    imports produce no rows (explode, not explode_outer — matching
    SQL ``unnest`` semantics)."""
    lang = F.col(lang_col)
    out = df.withColumn(
        "module", F.explode(_dispatch(lang, F.col(content_col), 0)))
    root = F.lit(None).cast("string")
    for name, (_, _, kind) in LANG_BATTERY.items():
        root = F.when(lang == name,
                      _root_pkg(F.col("module"), kind)).otherwise(root)
    return out.withColumn("root_pkg", root).drop(content_col)


def extract_defs(df: DataFrame,
                 lang_col: str = "lang",
                 content_col: str = "content") -> DataFrame:
    """One row per top-level function declaration: adds ``fn_name``."""
    out = df.withColumn(
        "fn_name",
        F.explode(_dispatch(F.col(lang_col), F.col(content_col), 1)))
    return out.drop(content_col)


def extract_calls(df: DataFrame,
                  lang_col: str = "lang",
                  content_col: str = "content") -> DataFrame:
    """One row per call-site mention: adds ``callee`` (the called
    function's name).  Same scan-fused constant-pattern shape as the
    import/def batteries — zero UDFs, zero exchanges, row-local
    explode."""
    lang = F.col(lang_col)
    expr = F.array().cast("array<string>")
    for name, pat in CALL_BATTERY.items():
        expr = F.when(lang == name,
                      F.regexp_extract_all(F.col(content_col),
                                           F.lit(pat), 1)
                      ).otherwise(expr)
    return df.withColumn("callee", F.explode(expr)).drop(content_col)


def call_edges(calls: DataFrame, defs: DataFrame) -> DataFrame:
    """Call-graph materialize: link each repo's call sites to the
    corpus-wide declaration table and emit
    ``(subj='repo:<repo>', pred='calls', obj='fn:<callee>', n_sites,
    n_def_repos)`` — ``n_def_repos`` counts how many repos declare the
    callee (0 = unresolved: a call into code outside the corpus).

    Scale shape: BOTH join sides are pre-aggregated before they meet —
    call sites collapse to (repo, callee, n_sites) with map-side
    combine, declarations collapse to one (callee, n_def_repos) row
    per name — so the link join fans nothing out and a hub callee name
    (``main``, ``init``, declared in millions of repos) is ONE row on
    the build side regardless of its degree; there is no d^2 anywhere
    to cap.  Three shuffles total (two aggs + the join; AQE broadcasts
    the name table when it is small).  This is the code twin of the
    biomedical mention->CUI link: the declaration table plays the
    lexicon, unresolved calls play CUI-less mentions."""
    cs = (calls.groupBy("repo", "callee")
          .agg(F.count("*").alias("n_sites")))
    dd = (defs.groupBy(F.col("fn_name").alias("callee"))
          .agg(F.countDistinct("repo").alias("n_def_repos")))
    return (cs.join(dd, "callee", "left")
            .select(F.concat(F.lit("repo:"), "repo").alias("subj"),
                    F.lit("calls").alias("pred"),
                    F.concat(F.lit("fn:"), "callee").alias("obj"),
                    "n_sites",
                    F.coalesce("n_def_repos",
                               F.lit(0)).alias("n_def_repos")))


def extract_manifest_deps(df: DataFrame,
                          path_col: str = "path",
                          content_col: str = "content") -> DataFrame:
    """One row per version-pinned dependency declaration found in a
    recognized manifest file: adds ``dep_name`` and ``dep_version``.
    Dispatch is by the path's basename (MANIFEST_BATTERY keys); files
    that are not manifests produce no rows.

    Scale shape: the basename CASE and both constant-pattern
    ``regexp_extract_all`` calls are scan-fused column exprs; the two
    equal-length capture arrays zip in-row (``arrays_zip``) before one
    row-local explode — zero UDFs, zero exchanges, and non-manifest
    files (the overwhelming majority of a code corpus) short-circuit
    to an empty array inside the same codegen stage."""
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    empty = F.array().cast("array<string>")
    names, vers = empty, empty
    for fname, pat in MANIFEST_BATTERY.items():
        c = F.col(content_col)
        names = F.when(base == fname,
                       F.regexp_extract_all(c, F.lit(pat), 1)
                       ).otherwise(names)
        vers = F.when(base == fname,
                      F.regexp_extract_all(c, F.lit(pat), 2)
                      ).otherwise(vers)
    return (df.withColumn("_dep", F.explode(F.arrays_zip(
                names.alias("n"), vers.alias("v"))))
            .withColumn("dep_name", F.col("_dep.n"))
            .withColumn("dep_version", F.col("_dep.v"))
            .drop("_dep", content_col))


def manifest_triples(deps: DataFrame) -> DataFrame:
    """Canonicalize + materialize the manifest mentions:
    ``(subj='repo:<repo>', pred='depends_on',
    obj='pkg:<name>@<version>', dep_name, dep_version, n_files)`` —
    the version-qualified edge the plain ``imports`` triple cannot
    carry.  One map-side-combined groupBy; shuffled rows are bounded
    by |repos| x |pinned deps|, never file count."""
    return (deps
            .groupBy("repo", "dep_name", "dep_version")
            .agg(F.countDistinct("path").alias("n_files"))
            .select(F.concat(F.lit("repo:"), "repo").alias("subj"),
                    F.lit("depends_on").alias("pred"),
                    F.concat(F.lit("pkg:"), "dep_name", F.lit("@"),
                             "dep_version").alias("obj"),
                    "dep_name", "dep_version", "n_files"))


# Docstring battery: one pattern per language pairing a function name
# with its adjacent documentation block (python docstring, javadoc,
# godoc / rustdoc line comments).  (name_group, doc_group) differ per
# convention because the doc precedes the signature everywhere except
# python.  Same engine-portable construct set as LANG_BATTERY.
DOCSTRING_BATTERY: dict[str, tuple[str, int, int]] = {
    "python": (r'(?m)^def (\w+)\([^)]*\):\n[ \t]+"""([^"]+)"""', 1, 2),
    "java":   (r"(?m)^/\*\* ([^*]+) \*/\nvoid (\w+)\(", 2, 1),
    "c":      (r"(?m)^/\*\* ([^*]+) \*/\nint (\w+)\(", 2, 1),
    "go":     (r"(?m)^// (\w[^\n]*)\nfunc (\w+)\(", 2, 1),
    "rust":   (r"(?m)^/// (\w[^\n]*)\nfn (\w+)\(", 2, 1),
}


def extract_docstrings(df: DataFrame,
                       lang_col: str = "lang",
                       content_col: str = "content") -> DataFrame:
    """Code<->natural-language bitext mining: one row per documented
    function, adding ``fn_name`` and ``docstring`` — the
    (code, description) pair corpus CodeSearchNet-style code-retrieval
    and code-LLM instruction data are built from.

    Scale shape: two constant-pattern ``regexp_extract_all`` calls per
    language under the ``lang`` CASE (name group + doc group — the
    manifest-battery shape), zipped in-row before one row-local
    explode; undocumented functions simply never match.  Zero UDFs,
    zero exchanges — scan speed at 10^12 files."""
    lang = F.col(lang_col)
    c = F.col(content_col)
    empty = F.array().cast("array<string>")
    names, docs = empty, empty
    for fam, (pat, ng, dg) in DOCSTRING_BATTERY.items():
        names = F.when(lang == fam,
                       F.regexp_extract_all(c, F.lit(pat), ng)
                       ).otherwise(names)
        docs = F.when(lang == fam,
                      F.regexp_extract_all(c, F.lit(pat), dg)
                      ).otherwise(docs)
    return (df.withColumn("_ds", F.explode(F.arrays_zip(
                names.alias("n"), docs.alias("d"))))
            .withColumn("fn_name", F.col("_ds.n"))
            .withColumn("docstring", F.col("_ds.d"))
            .drop("_ds", content_col))


def dep_conflicts(deps: DataFrame) -> DataFrame:
    """Diamond-dependency detection over the mined manifest pins: a
    repo whose manifests pin the SAME package at MORE THAN ONE version
    (the conflict dependency-graph products like Dependabot and
    deps.dev surface; in a monorepo it is the classic diamond).

    Input: ``extract_manifest_deps`` rows.  Output one row per
    conflicted ``(repo, dep_name)`` with the distinct-version count,
    how many manifest files pin it, and the sorted version list
    (comma-joined — a scalar column so every engine hashes it
    identically).

    Scale shape: ONE map-side-combined groupBy on (repo, dep_name) —
    the same bound as ``manifest_triples`` (|repos| x |pinned deps|
    rows, never file count); the collect_set is bounded by the number
    of distinct versions a single repo pins for a single package,
    which is small by construction of the conflict itself."""
    return (deps
            .groupBy("repo", "dep_name")
            .agg(F.countDistinct("dep_version").alias("n_versions"),
                 F.countDistinct("path").alias("n_manifests"),
                 F.concat_ws(
                     ",", F.sort_array(F.collect_set("dep_version"))
                 ).alias("versions_csv"))
            .filter(F.col("n_versions") > 1))


def test_source_edges(files: DataFrame,
                      path_col: str = "path") -> DataFrame:
    """Test->source KG edges by the dominant path convention: a file
    whose basename is ``test_<stem>.<ext>`` (or ``<stem>_test.<ext>``,
    the go convention) covers the same-repo, same-extension source
    file whose basename is ``<stem>.<ext>`` — the `tests_` edge a code
    KG needs for test-to-code traceability (and a training-data
    pipeline needs to pair implementations with their tests).

    Output: distinct ``(repo, test_path, src_path, stem)``.

    Scale shape: stem/ext derivation is string transforms fused into
    the path scan (content is never read — this operator runs on the
    file LISTING); the link is ONE equi-join co-partitioned on
    (repo, stem, ext).  Both sides are filtered before the exchange
    (test-shaped basenames left, non-test basenames right), so the
    join input is a fraction of the listing; a hub stem ("utils")
    fans out only within a single repo's partition."""
    base = F.element_at(F.split(F.col(path_col), "/"), -1)
    ext = F.regexp_extract(base, r"\.([A-Za-z0-9]+)$", 1)
    noext = F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")
    is_test = noext.startswith("test_") | noext.endswith("_test")
    stem = F.regexp_replace(
        F.regexp_replace(noext, r"^test_", ""), r"_test$", "")
    labeled = files.select(
        "repo", F.col(path_col).alias("p"), ext.alias("ext"),
        is_test.alias("is_test"), stem.alias("stem"))
    tests = (labeled.filter("is_test")
             .select("repo", F.col("p").alias("test_path"),
                     "stem", "ext"))
    srcs = (labeled.filter(~F.col("is_test"))
            .filter(F.col("stem") != "")
            .select("repo", F.col("p").alias("src_path"),
                    "stem", "ext"))
    return (tests.join(srcs, ["repo", "stem", "ext"])
            .select("repo", "test_path", "src_path", "stem")
            .distinct())


def api_usage(calls: DataFrame, defs: DataFrame) -> DataFrame:
    """Corpus-wide external-API popularity: call sites whose callee no
    repo in the corpus declares (the CUI-less mentions of the code KG)
    rolled up to ``(callee, n_repos, n_sites)`` — the table API-mining
    studies rank migrations and deprecations by.

    Scale shape: reuses ``call_edges``'s pre-aggregated link (both
    sides collapse before the join, no d^2 anywhere), then ONE more
    map-side-combined groupBy on the callee name — output is bounded
    by |distinct external names|, never call-site count."""
    edges = call_edges(calls, defs).filter(F.col("n_def_repos") == 0)
    return (edges
            .groupBy(F.regexp_replace("obj", "^fn:", "").alias("callee"))
            .agg(F.countDistinct("subj").alias("n_repos"),
                 F.sum("n_sites").alias("n_sites")))


def code_triples(imports: DataFrame, defs: DataFrame) -> DataFrame:
    """Canonicalize + materialize: (subj, pred, obj, n_mentions,
    n_files) with subj='repo:<repo>', pred in {imports, declares},
    obj='pkg:<root>' / 'fn:<name>'.  One shuffle (the groupBy); the
    union is plan-level only."""
    imp = (imports
           .groupBy("repo", F.col("root_pkg").alias("entity"))
           .agg(F.count("*").alias("n_mentions"),
                F.countDistinct("path").alias("n_files"))
           .select(F.concat(F.lit("repo:"), "repo").alias("subj"),
                   F.lit("imports").alias("pred"),
                   F.concat(F.lit("pkg:"), "entity").alias("obj"),
                   "n_mentions", "n_files"))
    dec = (defs
           .groupBy("repo", F.col("fn_name").alias("entity"))
           .agg(F.count("*").alias("n_mentions"),
                F.countDistinct("path").alias("n_files"))
           .select(F.concat(F.lit("repo:"), "repo").alias("subj"),
                   F.lit("declares").alias("pred"),
                   F.concat(F.lit("fn:"), "entity").alias("obj"),
                   "n_mentions", "n_files"))
    return imp.unionByName(dec)


def scan_secrets(df: DataFrame,
                 content_col: str = "content") -> DataFrame:
    """Per-file secret counts + the sha256 of the redacted content.

    Adds ``n_aws``, ``n_privkey``, ``n_apikey``, ``any_secret``, and
    ``redacted_sha`` (sha256 hex of the content with every match
    replaced by ``[SECRET]``, applied aws -> privkey -> apikey in that
    fixed order so the hash is engine-portable).  The hash doubles as
    the north rule's per-row content invariant over the SCRUBBED
    corpus — two engines that redact identically agree on every row.
    """
    c = F.col(content_col)
    counts = {k: F.size(F.regexp_extract_all(c, F.lit(p), 0))
              for k, p in SECRET_PATTERNS.items()}
    red = c
    for k in ("aws", "privkey", "apikey"):  # fixed order
        red = F.regexp_replace(red, SECRET_PATTERNS[k], "[SECRET]")
    out = df
    for k, cnt in counts.items():
        out = out.withColumn(f"n_{k}", cnt.cast("bigint"))
    return (out
            .withColumn("any_secret",
                        (F.col("n_aws") + F.col("n_privkey")
                         + F.col("n_apikey")) > 0)
            .withColumn("redacted_sha", F.sha2(red, 256)))


def shared_package_graph(imports: DataFrame, tau: float = 0.0,
                         max_pkg_degree: int = 1000) -> DataFrame:
    """Bipartite projection of the repo-package membership graph onto
    repos: weighted ``(repo_a, repo_b, shared, jaccard)`` edges between
    repos that import the same root packages — the KG-materialize step
    that turns entity-linked import mentions into a repo-similarity
    graph (the code twin of the entity co-occurrence edges in
    operators/cooccur.py, where the shared document is replaced by the
    shared linked entity).

    This IS fork detection with the file-content-hash axis swapped for
    the package axis, so it reuses codeqc.fork_candidates verbatim
    rather than re-deriving the plan: same hub cap (a package imported
    by more than ``max_pkg_degree`` repos is ecosystem-wide
    infrastructure — stdlib, numpy — and carries no similarity signal;
    dropping it FIRST bounds the projection fan-out at cap^2 per
    package), same groupBy-then-C(d,2) in-row pair expansion (no
    self-join ever runs), same 8-byte xxhash64 repo-id discipline for
    everything that shuffles in volume."""
    from bern2_spark.dataprep.codeqc import fork_candidates
    mem = imports.select("repo", F.col("root_pkg").alias("h"))
    # pack_pairs=False: the package projection's pair volume is small,
    # so the dense-rank pair packing costs more than it saves here
    # (see fork_candidates)
    return fork_candidates(mem, tau=tau, max_hash_degree=max_pkg_degree,
                           pack_pairs=False)


def file_import_edges(imports: DataFrame, files: DataFrame,
                      path_col: str = "path") -> DataFrame:
    """Intra-repo FILE-level dependency edges: resolve each python
    import mention to the repo file that provides the module
    (``a.b.c`` -> ``a/b/c.py``) and keep only edges whose provider
    actually exists in the same repo — the file-granular graph under
    the repo-granular ``dependency_edges`` (imports of modules no repo
    file provides are external deps, already covered by root-package
    linking).  Per-language provider conventions differ; python's
    module-path bijection is implemented, other ecosystems dispatch
    the same way the batteries do.

    Output: distinct ``(repo, src_path, dst_path)``.  Scale shape:
    the resolution is a string transform fused into the scan; the
    existence check is ONE left-semi join co-partitioned on
    (repo, path) — provider side is the file listing (path column
    only, content never touches this plan); self-imports dropped."""
    cand = (imports.filter(F.col("lang") == "python")
            .select("repo", F.col(path_col).alias("src_path"),
                    F.concat(F.regexp_replace("module", r"\.", "/"),
                             F.lit(".py")).alias("dst_path")))
    provider = (files.select("repo",
                             F.col(path_col).alias("dst_path"))
                .distinct())
    return (cand.join(provider, ["repo", "dst_path"], "left_semi")
            .filter(F.col("src_path") != F.col("dst_path"))
            .select("repo", "src_path", "dst_path")
            .distinct())


def dependency_edges(imports: DataFrame) -> DataFrame:
    """Distinct repo -> package edges (src='repo:<r>', dst='pkg:<p>')
    — the graph-materialize handoff consumed by operators/graph.py
    (pagerank / degree / k-hop run unchanged over this edge list).
    One shuffle (the distinct)."""
    return (imports
            .select(F.concat(F.lit("repo:"), "repo").alias("src"),
                    F.concat(F.lit("pkg:"), "root_pkg").alias("dst"))
            .distinct())


def coedit_edges(commits: DataFrame,
                 repo_col: str = "repo",
                 commit_col: str = "commit_sha",
                 path_col: str = "path",
                 max_files_per_commit: int = 64) -> DataFrame:
    """Co-change (logical-coupling) edges: two files of the same repo
    that appear in the same commit are coupled; the edge weight is the
    number of commits they share (Gall et al. 1998's change-coupling
    graph, the KG layer refactoring/ownership mining reads).

    Input: one row per (repo, commit, path) membership.  Output:
    ``(repo, path_a, path_b, n_commits)`` with ``path_a < path_b``.

    Scale shape: the pair generation is a self-join co-partitioned on
    (repo, commit) — the same plan family as the sentence co-occur
    pairer — so a commit's pairs never leave its partition.  Skew is
    bounded BEFORE the join by the hub cap: commits touching more
    than ``max_files_per_commit`` files (repo-wide reformat, vendored
    import) are dropped, exactly the mega-commit exclusion the
    co-change literature applies, making the per-commit fan-out
    <= C(cap, 2) regardless of data skew.  The cap is a window count
    over (repo, commit) rather than an agg + semi-join, so the ONE
    exchange that hash-partitions memberships by (repo, commit) is
    planned once and both self-join sides read it back as a
    ReusedExchange — no separate size-table shuffle, no join to apply
    the cap.  The final weight agg is map-side combined on
    (repo, path_a, path_b)."""
    m = (commits.select(F.col(repo_col).alias("repo"),
                        F.col(commit_col).alias("commit_sha"),
                        F.col(path_col).alias("path"))
         .distinct())
    w = Window.partitionBy("repo", "commit_sha")
    m = (m.withColumn("_n", F.count("*").over(w))
         .filter(F.col("_n") <= max_files_per_commit)
         .drop("_n"))
    a = m.select("repo", "commit_sha", F.col("path").alias("path_a"))
    b = m.select("repo", "commit_sha", F.col("path").alias("path_b"))
    return (a.join(b, ["repo", "commit_sha"])
            .filter(F.col("path_a") < F.col("path_b"))
            .groupBy("repo", "path_a", "path_b")
            .agg(F.count("*").alias("n_commits")))


def triple_confidence(imports: DataFrame,
                      halflife: float = 4.0) -> DataFrame:
    """Evidence-weighted triple scoring — the knowledge-fusion stage
    (Dong et al. 2014's Knowledge Vault shape): every extractor hit
    for (repo, imports_pkg, package) is evidence; the triple's
    confidence saturates with the number of INDEPENDENT witnesses
    (distinct files), ``1 - exp(-n_files / halflife)``, so one stray
    mention scores ~0.22 while a package imported across five files
    scores ~0.71.  Downstream KG consumers threshold on this instead
    of the raw triple set.

    Output: ``(subj, pred, obj, n_mentions, n_files, confidence)``.
    One map-side-combined groupBy on (repo, root_pkg); the exp/round
    is a codegen'd column expr.  Bounded by |distinct (repo, pkg)|."""
    return (imports
            .groupBy(F.col("repo"), F.col("root_pkg"))
            .agg(F.count("*").alias("n_mentions"),
                 F.countDistinct("path").alias("n_files"))
            .select(F.concat(F.lit("repo:"), "repo").alias("subj"),
                    F.lit("imports_pkg").alias("pred"),
                    F.concat(F.lit("pkg:"), "root_pkg").alias("obj"),
                    "n_mentions", "n_files",
                    F.round(1.0 - F.exp(-F.col("n_files")
                                        / F.lit(halflife)),
                            6).alias("confidence")))


def unused_imports(files: DataFrame, imports: DataFrame,
                   content_col: str = "content") -> DataFrame:
    """Unused-import lint (the flake8 F401 class) for the python
    family: an imported root package whose identifier never occurs in
    the file beyond its own import statement(s).  The curation use:
    dead imports inflate the dependency graph and mislead
    import-based repo similarity — this flags the edges to discount.

    Rule (deterministic lexical approximation): with ``n_mentions`` =
    import rows of (file, root_pkg) and ``n_occurrences`` = times the
    root appears among the file's identifier tokens, the import is
    unused iff ``n_occurrences <= n_mentions`` (each import statement
    itself contributes one occurrence; real usage adds more).

    Scale shape: identifiers explode ONCE under a constant-pattern
    regexp, then are semi-joined against the BROADCAST distinct root
    set BEFORE the (file, ident) count shuffle — shuffled rows are
    imported-root hits only, the BM25 pruning discipline.  Output:
    ``(repo, path, root_pkg, n_mentions, n_occurrences, unused)``."""
    from bern2_spark.dataprep.codeqc import _IDENT_RE
    imp = (imports.filter(F.col("lang") == "python")
           .groupBy("repo", "path", "root_pkg")
           .agg(F.count("*").alias("n_mentions")))
    roots = imp.select(F.col("root_pkg").alias("ident")).distinct()
    ids = (files.filter(F.col("lang") == "python")
           .select("repo", "path",
                   F.explode(F.regexp_extract_all(
                       F.col(content_col), F.lit(_IDENT_RE), 0))
                   .alias("ident")))
    usage = (ids.join(F.broadcast(roots), "ident")
             .groupBy("repo", "path", F.col("ident").alias("root_pkg"))
             .agg(F.count("*").alias("n_occurrences")))
    return (imp.join(usage, ["repo", "path", "root_pkg"], "left")
            .select("repo", "path", "root_pkg", "n_mentions",
                    F.coalesce("n_occurrences", F.lit(0))
                    .alias("n_occurrences"))
            .withColumn("unused",
                        F.col("n_occurrences") <= F.col("n_mentions")))


def dead_functions(defs: DataFrame, calls: DataFrame) -> DataFrame:
    """Corpus-wide dead-function candidates: names DECLARED somewhere
    but CALLED nowhere — the function-level twin of
    ``unused_imports`` (file-level), discounting never-exercised code
    in quality scoring and pruning the call-graph KG of dead leaves.
    (A name called only reflectively/dynamically will false-positive;
    that is inherent to static mining and documented, not hidden.)

    Scale shape: both sides collapse BEFORE they meet — declarations
    to one (fn_name, n_defs, n_def_repos) row per name, call sites to
    a distinct name list — so the anti-join carries one row per
    distinct name regardless of how many repos declare `main`.  Two
    map-side-combined aggs + one anti-join on the name key.

    Output: (fn_name, n_defs, n_def_repos), never-called names only."""
    called = calls.select(F.col("callee").alias("fn_name")).distinct()
    dd = (defs.groupBy("fn_name")
          .agg(F.count("*").cast("long").alias("n_defs"),
               F.countDistinct("repo").cast("long")
               .alias("n_def_repos")))
    return dd.join(called, "fn_name", "left_anti")
