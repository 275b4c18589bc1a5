"""Property-based tests (hypothesis) for the pure-function cores:
cleanup invariants, F:i encode/decode roundtrip, parse/assemble
roundtrip, and the same-as-previous fill."""

from __future__ import annotations

import functools
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_dataset_builder_spark.functions.cleanup import clean_ocr_text
from ocr_dataset_builder_spark.operators.frame_dedup import decode_fref_list
from ocr_dataset_builder_spark.operators.refinement import (
    parse_llm_response,
    refine_text_batch,
)

ascii_text = st.text(
    alphabet=st.sampled_from(
        list("abcdefghij XYZ.!?,0123456789") + ["\n", "\t", "\r", " "]
    ),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(ascii_text)
def test_cleanup_idempotent(s):
    once = clean_ocr_text(s)
    assert clean_ocr_text(once) == once


@settings(max_examples=200, deadline=None)
@given(ascii_text)
def test_cleanup_invariants(s):
    out = clean_ocr_text(s)
    # no line is empty or padded; no space runs; no CR
    assert "\r" not in out
    assert "  " not in out.replace("\n", " ") or "  " not in out
    for line in out.split("\n"):
        assert line == line.strip()
        assert "  " not in line and "\t" not in line


# encoded values: either plain text (never starting with F:) or a
# backward ref with optional appended tail
def _encode(vals: list[str]) -> list[str]:
    out = []
    for i, v in enumerate(vals):
        if i > 0:
            prev = vals[i - 1]
            if v == prev:
                out.append(f"F:{i-1}")
                continue
            if v.startswith(prev + "\n"):
                out.append(f"F:{i-1}" + v[len(prev):])
                continue
        out.append(v)
    return out


safe_line = st.text(alphabet=list("abcdef gh"), min_size=0, max_size=20)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            safe_line,
            st.tuples(safe_line, safe_line).map(lambda t: t[0] + "\n" + t[1]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fref_roundtrip(vals):
    # plain values must not collide with the F: notation
    vals = [v if not v.startswith("F:") else "x" + v for v in vals]
    assert decode_fref_list(_encode(vals)) == vals


# --- W1 parity against the REFERENCE reconstruction executed verbatim ---
# pytorch_dataset.py imports torch/PIL (absent here), so the method is
# AST-extracted and exec'd standalone — the same execute-the-reference
# discipline test_augment.py uses for the augmentation functions. Every
# reference is loaded on first use, so a missing checkout fails the
# parity tests that need it and leaves the others running.

@functools.cache
def _ref_reconstruct():
    import ast
    import logging
    from typing import Dict, List

    src = open(
        "/root/reference/ocr_dataset_builder/data/pytorch_dataset.py"
    ).read()
    tree = ast.parse(src)
    fn = None
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_reconstruct_llm_output":
            fn = node
            break
    assert fn is not None
    mod = ast.Module(body=[fn], type_ignores=[])
    ns = {"logging": logging, "List": List, "Dict": Dict}
    exec(compile(ast.fix_missing_locations(mod), "<reference>", "exec"), ns)
    return ns["_reconstruct_llm_output"]


def _reference_decode(vals: list[str]) -> list[str]:
    shim = type(
        "_Shim", (), {"_reconstruct_llm_output": _ref_reconstruct()}
    )()
    cache: dict[int, str] = {}
    return [
        shim._reconstruct_llm_output(vals, i, cache) for i in range(len(vals))
    ]


# adversarial encoded entries: plain text, well-formed backward refs,
# self/forward refs, digitless 'F:', refs with appended tails, ref chains
_enc_entry = st.one_of(
    safe_line,
    st.integers(min_value=0, max_value=40).map(lambda i: f"F:{i}"),
    st.tuples(st.integers(min_value=0, max_value=40), safe_line).map(
        lambda t: f"F:{t[0]}{t[1]}"
    ),
    st.just("F:"),
    st.tuples(st.just("F:"), safe_line).map(lambda t: t[0] + t[1]),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_enc_entry, min_size=1, max_size=30))
def test_fref_decode_matches_reference_verbatim(encoded):
    assert decode_fref_list(encoded) == _reference_decode(encoded)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet=list("abc def\n"), max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_refine_parse_roundtrip(texts):
    # frame texts free of the marker grammar
    frames = [(i, t) for i, t in enumerate(texts)]
    parsed = parse_llm_response(refine_text_batch(frames))
    assert parsed is not None
    cleaned = [clean_ocr_text(t) for t in texts]
    assert parsed["task3_cleaned_text"] == cleaned
    assert len(parsed["task4_markdown_text"]) == len(texts)
    assert parsed["task5_summary"] == " ".join(cleaned)[:80].strip()


# --- T1 parity against the REFERENCE cleanup executed verbatim ---
# tesseract/ocr_utils.py imports rich (print-only, module level), so the
# function is AST-extracted and exec'd standalone with only `re`.

def _load_reference_fn(path: str, name: str, ns: dict):
    import ast

    tree = ast.parse(open(path).read())
    fn = next(
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name == name
    )
    mod = ast.Module(body=[fn], type_ignores=[])
    exec(compile(ast.fix_missing_locations(mod), "<reference>", "exec"), ns)
    return ns[name]


_ref_clean = functools.cache(functools.partial(
    _load_reference_fn,
    "/root/reference/ocr_dataset_builder/tesseract/ocr_utils.py",
    "clean_tesseract_ocr",
    {"re": re},
))


@settings(max_examples=300, deadline=None)
@given(ascii_text)
def test_cleanup_matches_reference_verbatim(s):
    assert clean_ocr_text(s) == _ref_clean()(s)


# --- T5 parity against the REFERENCE image-response parser executed
# verbatim (llm/image_processing.py:214-347; imports genai/dotenv at
# module level, hence the AST extraction). Adversarial responses mix
# well-formed task/frame markers, malformed markers (indented, wrong
# fence), redundancy placeholders (incl. frame-0 misuse), digit-less
# frames, duplicate task headers, and free text.

@functools.cache
def _ref_image_parse():
    import logging

    return _load_reference_fn(
        "/root/reference/ocr_dataset_builder/llm/image_processing.py",
        "parse_llm_response",
        {"re": re, "logging": logging},
    )


_resp_line = st.one_of(
    st.sampled_from(
        [
            "==== TASK 1: Raw OCR ====",
            "==== TASK 2: Augmented ====",
            "==== TASK 3: Cleaned ====",
            "==== TASK 4: Markdown ====",
            "==== TASK 5: Summary ====",
            "==== task 2: lower ====",
            " ==== TASK 1: indented ====",
            "== TASK 9: wrong fence ==",
            "-- Frame 0 --",
            "-- Frame 1 --",
            "-- Frame 2 --",
            "--Frame 3--",
            "-- frame 4 --",
            " -- Frame 5 --",
            "-- Frame x --",
            "<<< SAME_AS_PREVIOUS >>>",
            "<<< SAME_AS_PREVIOUS >>> tail",
            "",
        ]
    ),
    st.text(alphabet=list("abc XY.=-<>"), max_size=24),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_resp_line, min_size=0, max_size=40).map("\n".join))
def test_image_parse_matches_reference_verbatim(resp):
    from ocr_dataset_builder_spark.operators.image_parse import (
        parse_image_response,
    )

    assert parse_image_response(resp) == _ref_image_parse()(resp)


# --- T6 parity against the REFERENCE text-refinement parser executed
# verbatim (llm/text_processing.py:137-268; module imports genai, hence
# AST extraction — the nested parse_frames_from_block rides along inside
# the outer FunctionDef).

_REF_TEXT_PARSE = None


def _ref_text_parse(resp):
    global _REF_TEXT_PARSE
    if _REF_TEXT_PARSE is None:
        import logging

        _REF_TEXT_PARSE = _load_reference_fn(
            "/root/reference/ocr_dataset_builder/llm/text_processing.py",
            "parse_text_llm_response",
            {"re": re, "logging": logging},
        )
    return _REF_TEXT_PARSE(resp)


_text_resp_line = st.one_of(
    st.sampled_from(
        [
            "==== TASK 3: CLEANED AND CORRECTED OCR TEXT ====",
            "==== TASK 4: MARKDOWN REPRESENTATION ====",
            "==== TASK 5: CONTEXTUAL SUMMARY AND KEY INFORMATION ====",
            "==== TASK 3: WRONG HEADER ====",
            "-- Frame 0 --",
            "-- Frame 1 --",
            "-- Frame 23 --",
            "-- Frame x --",
            "-- Frame 2 -- trailing",
            "",
        ]
    ),
    st.text(alphabet=list("abc XY.=-"), max_size=24),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_text_resp_line, min_size=0, max_size=40).map("\n".join))
def test_text_parse_matches_reference_verbatim(resp):
    from ocr_dataset_builder_spark.operators.refinement import (
        parse_llm_response as ours,
    )

    assert ours(resp) == _ref_text_parse(resp)
