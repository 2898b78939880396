"""X5/X6 parity tests.

Two oracle relationships:
* ``detokenize`` is cross-checked against the REAL reference function
  (multi_ner/ops.py:209-246) imported from /root/reference.
* the window/label bookkeeping is property-tested against a transcribed
  ~25-line twin of the reference's convert_examples_to_features slicing
  (multi_ner/main.py:275-393) — transcription is test-only and clearly
  delimited below (the reference needs torch, so it cannot be imported).
* the full real-model path (X5 -> fake logits -> X6 -> decode) must
  produce EXACTLY the surrogate tagger's mentions when the fake logits
  are derived from the surrogate — proving the wordpiece round trip is
  label-preserving end-to-end.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bern2_spark.operators.wordpiece import (
    CLS, NULL_TOKEN, PAD_LABEL_ID, SEP, WindowOverflowError, WordpieceVocab,
    convert_words_to_features, detokenize, extract_mentions_real,
)

# --------------------------------------------------------------- tokenizer

def test_greedy_wordpiece_basics():
    v = WordpieceVocab(["un", "##aff", "##able", "##ffable", "hello"])
    # greedy longest-match-first: 'ffable' beats 'aff'+...
    assert v.tokenize("unffable") == ["un", "##ffable"]
    assert v.tokenize("hello") == ["hello"]
    # any position without a match -> whole word is [UNK]
    assert v.tokenize("unknownz") == ["[UNK]"]
    assert v.tokenize("") == []
    assert v.tokenize("x" * 101) == ["[UNK]"]


def test_from_words_closed_form():
    """The corpus-vocab construction guarantees greedy yields exactly
    (word[:4], '##'+word[4:]) / whole short word — the invariant the
    SQL oracle twin relies on."""
    words = ["customer", "customers", "cub", "abcd", "abcdefgh", "tok"]
    v = WordpieceVocab.from_words(words)
    for w in words:
        expect = [w] if len(w) <= 4 else [w[:4], "##" + w[4:]]
        assert v.tokenize(w) == expect


# ------------------------------------------------- windowing (transcribed)

def _ref_windows_transcribed(tokens, label_ids, det_tokens,
                             max_seq_length):
    """TEST-ONLY transcription of the reference's sliding-window slicing
    + [CLS]/[SEP]/pad bookkeeping (multi_ner/main.py:301-393,
    special_tokens_count=2, sep_token_extra=False, pad on right).
    Returns (tokens, label_ids, det_tokens) per window, or raises
    AssertionError exactly where the reference asserts."""
    stc = 2
    out = []
    for i in range(0, (len(tokens) // max_seq_length) + 1):
        if i == 0:
            wt = tokens[0:max_seq_length - stc]
            wl = label_ids[0:max_seq_length - stc]
            wd = det_tokens[0:max_seq_length - stc]
        else:
            wt = tokens[i * max_seq_length - stc:
                        (i + 1) * max_seq_length - stc]
            wl = label_ids[i * max_seq_length - stc:
                           (i + 1) * max_seq_length - stc]
            wd = det_tokens[i * max_seq_length - stc:
                            (i + 1) * max_seq_length - stc]
        wt, wl, wd = wt + ["[SEP]"], wl + [-100], wd + ["[SEP]"]
        wt, wl, wd = ["[CLS]"] + wt, [-100] + wl, ["[CLS]"] + wd
        pad = max_seq_length - len(wt)
        wt = wt + ["**NULL**"] * pad
        wl = wl + [-100] * pad
        wd = wd + ["**NULL**"] * pad
        assert len(wt) == max_seq_length
        out.append((wt, wl, wd))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(
    ["tok", "alpha", "betakinase", "x", "granulomatosis", "ab"]),
    min_size=0, max_size=90),
    st.integers(min_value=8, max_value=32))
def test_windowing_matches_reference_transcription(words, max_seq):
    labels = ["B" if len(w) > 6 else "O" for w in words]
    vocab = WordpieceVocab.from_words(words)
    # build the flat streams the same way to isolate the WINDOWING
    tokens, lids, dets = [], [], []
    for w, lab in zip(words, labels):
        wt = vocab.tokenize(w)
        tokens += wt
        lids += [{"B": 0, "I": 1, "O": 2}[lab]] + [-100] * (len(wt) - 1)
        dets.append(wt[0])
        dets += [p if p.startswith("##") else "##" + p for p in wt[1:]]
    try:
        expected = _ref_windows_transcribed(tokens, lids, dets, max_seq)
        overflow = False
    except AssertionError:
        overflow = True
    if overflow:
        with pytest.raises(WindowOverflowError):
            convert_words_to_features(words, labels, vocab,
                                      max_seq_length=max_seq)
        return
    got = convert_words_to_features(words, labels, vocab,
                                    max_seq_length=max_seq)
    assert len(got) == len(expected)
    for win, (wt, wl, wd) in zip(got, expected):
        assert win["tokens"] == wt
        assert win["label_ids"] == wl
        assert win["det_tokens"] == wd
        assert len(win["input_ids"]) == max_seq
        assert win["attention_mask"] == [
            1 if t != NULL_TOKEN else 0 for t in wt]


def test_window_drop_quirk():
    """A sentence with max_seq-1 wordpieces schedules ONE window holding
    max_seq-2 of them: the last piece is silently dropped, exactly as
    the reference's len//max+1 loop does (multi_ner/main.py:309)."""
    words = ["tok"] * 31
    vocab = WordpieceVocab.from_words(words)
    wins = convert_words_to_features(words, ["O"] * 31, vocab,
                                     max_seq_length=32)
    assert len(wins) == 1
    real = [t for t in wins[0]["tokens"] if t not in (CLS, SEP, NULL_TOKEN)]
    assert len(real) == 30  # 31st piece dropped


def test_window_overflow_raises():
    # 62+ pieces at max_seq=32 -> continuation window is sliced 32 wide,
    # +2 specials overflows -> the reference asserts; we raise
    words = ["tok"] * 62
    vocab = WordpieceVocab.from_words(words)
    with pytest.raises(WindowOverflowError):
        convert_words_to_features(words, ["O"] * 62, vocab,
                                  max_seq_length=32)


# ----------------------------------------------------------- detokenize X6

DETOK_CASES = [
    # (tokens, labels, logits) streams already stripped of padding
    (["[CLS]", "he", "##llo", "world", "[SEP]"], [2, 0, 2, 2, 2],
     [[0.0]] * 5),
    # two windows; second starts mid-word with a '##' piece
    (["[CLS]", "granu", "##loma", "[SEP]",
      "[CLS]", "##tosis", "again", "[SEP]"],
     [2, 0, 2, 2, 2, 2, 1, 2], [[float(i)] for i in range(8)]),
    (["[CLS]", "[SEP]"], [2, 2], [[0.0], [0.0]]),
]


@pytest.mark.parametrize("toks,labs,logs", DETOK_CASES)
def test_detokenize_matches_reference(ref_ops, toks, labs, logs):
    ours = detokenize(toks, labs, logs)
    ref = ref_ops.detokenize(list(toks), list(labs), list(logs))
    assert ours == tuple(ref)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(
    ["alpha", "beta", "granulomatosis", "x", "betakinase"]),
    min_size=1, max_size=40))
def test_detokenize_roundtrip_via_reference(ref_ops, words):
    """Windows -> flatten (pads stripped) -> detokenize recovers the
    original words in order, and OUR detokenize == the reference's."""
    from hypothesis import assume
    vocab = WordpieceVocab.from_words(words)
    try:
        wins = convert_words_to_features(words, ["O"] * len(words), vocab,
                                         max_seq_length=16)
    except WindowOverflowError:
        assume(False)  # outside the reference's working domain
    toks, labs, logs = [], [], []
    for w in wins:
        for det, lid in zip(w["det_tokens"], w["label_ids"]):
            if det == NULL_TOKEN:
                break
            toks.append(det)
            labs.append(lid)
            logs.append([0.0])
    ours = detokenize(toks, labs, logs)
    ref = ref_ops.detokenize(list(toks), list(labs), list(logs))
    assert ours == tuple(ref)
    # the concatenated recovery is a prefix of the input (equal except
    # when the len//max+1 drop quirk loses trailing pieces)
    recovered = "".join(w for sent in ours[0] for w in sent)
    assert "".join(words).startswith(recovered)


# ------------------------------------------- full real-model path (Spark)

def test_real_path_equals_surrogate(spark):
    """X5 windows + surrogate-derived fake logits + X6 + decode must
    reproduce the fused surrogate tagger's mentions exactly (prob
    differs by construction: one-hot softmax vs hash prob)."""
    from bern2_spark import corpus
    from bern2_spark.operators.preprocess import preprocess
    from bern2_spark.operators.tagging import extract_mentions

    lex = corpus.make_lexicon(seed=7, per_type=40)
    docs = preprocess(corpus.documents_df(spark, 40, seed=7, lexicon=lex))
    cols = ["doc_id", "ent_type", "start", "end", "mention"]
    surrogate = sorted(map(tuple,
                           extract_mentions(docs, lex).select(cols).collect()))
    real = sorted(map(tuple,
                      extract_mentions_real(docs, lex).select(cols).collect()))
    assert surrogate == real
    assert len(real) > 50
