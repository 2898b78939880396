"""Reach guard: every top-level def in bern2_spark/ is named by a live
body or sits on KEEP_WHY with its reason.  Roots: the ``@q`` queries and
the entry points (__spark_entry__, tools, perfbench, bench*.py); a
reached def's body and its module's top-level code are live in turn.
Tests are not roots, so code that only its own tests reach fails here.
"""

import ast
import glob
import os

DEF = (ast.FunctionDef, ast.ClassDef)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# reason -> defs that only tests reach but stay
KEEP_WHY = {
    "BERN2 I/O surface: the paper's input and output formats": [
        "sources.pubtator.parse_pubtator", "sources.pubtator.read_pubtator",
        "sources.pubtator.serialize_pubtator",
        "sources.dictbuild.read_cellosaurus", "sources.dictbuild.dict_lines",
        "sources.dictbuild.read_cellontology_csv",
        "sources.dictbuild.write_best_dict",
        "sources.dictbuild.write_best_dict_file",
        "sources.lexicon.read_lexicon_file",
        "sources.lexicon.write_lexicon_file",
        "operators.checkpoint.load_hf_checkpoint"],
    "CheckpointedSink resume helpers": [
        "sources.sink.write_outputs", "sources.sink.resume_docs",
        "sources.sink.iceberg_available"],
    "references the fused tagger and canonicalizer are tested against": [
        "operators.tagging.tag_words",
        "operators.tagging.mentions_via_relational",
        "operators.postprocess._standardize_prefix_regex"],
    "the test corpus": ["corpus.documents_df"],
    "sizing math for lsh_banded_pairs (PARITY.md)": [
        "dataprep.similarity.banded_lsh_plan",
        "dataprep.similarity.banded_lsh_recall",
        "dataprep.similarity.bit_agree_prob"],
}
KEEP = {k for names in KEEP_WHY.values() for k in names}


def _names(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            mod = getattr(n, "module", None) or ""
            out.update({mod} | {a.name for a in n.names}
                       | {f"{mod}.{a.name}" for a in n.names})
    return out


def _unreached():
    defs, top = {}, {}
    for path in glob.glob(f"{ROOT}/bern2_spark/**/*.py", recursive=True):
        mod = os.path.relpath(path[:-3], ROOT).replace(os.sep, ".")
        mod = mod.removesuffix(".__init__")
        body = ast.parse(open(path).read()).body
        top[mod] = [s for s in body if not isinstance(s, DEF)]
        defs.update({f"{mod}.{s.name}".removeprefix("bern2_spark."): s
                     for s in body if isinstance(s, DEF)})
    live = set()
    for f in (["__spark_entry__.py", "bench.py", "bench_extra.py"]
              + glob.glob(f"{ROOT}/tools/*.py")
              + glob.glob(f"{ROOT}/perfbench/*.py")):
        live |= _names(ast.parse(open(os.path.join(ROOT, f)).read()))
    reached, live_mods, size = set(), set(), None
    while size != (len(live), len(reached)):
        size = (len(live), len(reached))
        for k, d in defs.items():
            if k not in reached and (d.name in live or any(
                    isinstance(x, ast.Call) and getattr(x.func, "id", "")
                    == "q" for x in d.decorator_list)):
                reached.add(k)
                live |= _names(d)
        for m in set(top) - live_mods:
            if m in live or any(f"bern2_spark.{k}".startswith(m + ".")
                                for k in reached):
                live_mods.add(m)
                live |= set().union(*map(_names, top[m]))
    return sorted(set(defs) - reached), set(defs)


def test_every_def_is_reached_or_kept():
    unreached, all_defs = _unreached()
    assert KEEP <= all_defs, f"stale KEEP entries: {KEEP - all_defs}"
    bad = [k for k in unreached if k not in KEEP]
    assert not bad, "reached only by tests (delete, or KEEP with a " \
                    "reason):\n  " + "\n  ".join(bad)
