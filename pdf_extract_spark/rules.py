"""The deterministic rule core — single source of truth (SURVEY.md §7.1).

Pure Python (stdlib + nothing else importable-from-Spark-UDFs-and-oracle).
Implements, deterministically, the semantics the reference either coded by
hand or delegated to an LLM prompt:

  * cleanup functions C3/C4/C5/C8/C9/C10/C11
    (euaa_사례/pdf_to_json/layout_analyzer.py:88, euaa_사례/pdf_to_json/main.py:33,
     euaa_사례/sentences/metadata_generator.py:76-83,524-543)
  * style-based H1/H2/H3/P tagging
    (euaa_사례/pdf_to_json/layout_analyzer.py:128-143; config thresholds
     euaa_사례/pdf_to_json/config.py:32-45)
  * reading-order two-column sort (layout_analyzer.py:57-66)
  * header/footer margin strip (layout_analyzer.py:34-55, margins
    config.py:24,27)
  * consecutive-tag run merge (euaa_사례/pdf_to_json/main.py:18-74)
  * the sentence-composition FSM — the deterministic replacement of the LLM
    prompt at euaa_사례/sentence_composer.py:354-404 (merge rule :364-369,
    split rule :371-373, cleanup :375-377, header passthrough :515-526)
  * text-heuristic header tagging for style-less span input (our own
    contract; documented inline)

Both the Spark UDFs (pdf_extract_spark.operators.*: the arrow_udf
extraction kernel calls the span-column entry extract_columns, the layout
pandas UDF the dict functions) and the golden test oracle
(pdf_extract_spark.oracle) import THIS module, so the span-sequence-
equality tests verify the distributed plumbing, not two divergent rule
implementations.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

# --------------------------------------------------------------------------
# constants (mirroring euaa_사례/pdf_to_json/config.py)
# --------------------------------------------------------------------------

HEADER_MARGIN = 0.05  # top 5% of page height   (config.py:24)
FOOTER_MARGIN = 0.95  # bottom 5% of page height (config.py:27)
H1_SIZE_RATIO = 1.5  # H1 if size >= 1.5 * body mode AND bold (config.py:32-39)
H3_COLORS = frozenset({3101846, 3036053, 352961, 353217})  # config.py:41-44
FLAG_BOLD = 16  # layout_analyzer.py:130

HEADER_KINDS = ("H1", "H2", "H3")
TERMINALS = ".?!"

# table detection (the reference's source_type ∈ {table,image,text}
# contract, main.py:316-338 — classified there by the LLM per sentence;
# the north rule replaces the LLM with layout heuristics, so table-ness
# comes from bbox geometry). Quantization buckets, not distance
# clustering: deterministic and independent of line order.
TABLE_X_TOL = 2.0  # x0 bucket width (points) — lines in one bucket share a column
TABLE_Y_TOL = 2.0  # y0 bucket width — lines in one bucket share a row
# >= 3 recurring columns: a TWO-column grid is indistinguishable from a
# two-column BODY layout (both columns start at the same top margin and
# similar line heights routinely y-align the first rows), so 2-column
# tables are deliberately sacrificed for precision — mis-tagging body
# text as table cells would bypass sentence composition for it.
TABLE_MIN_COLS = 3
TABLE_MIN_ROWS = 2  # each grid column must recur in >= 2 multi-cell rows
# grid rows must also be vertically ADJACENT: consecutive candidate rows
# at most this many y-buckets apart (20 buckets * 2pt = 40pt — about two
# text-line heights); chance y-alignments in column layouts are
# scattered down the page, real table rows are consecutive.
TABLE_ROW_PITCH = 20

# boilerplate strip for style-less span input: a short line repeated this
# many times in one document is a running header/footer
BOILERPLATE_MIN_REPEATS = 3
BOILERPLATE_MAX_LEN = 80

# --------------------------------------------------------------------------
# cleanup regexes (compiled once)
# --------------------------------------------------------------------------

RE_WS = re.compile(r"\s+")  # C3, layout_analyzer.py:88
# collapse_ws fast path trigger: RE_WS.sub(" ", t) changes t only if t has
# a non-space whitespace char or a run of 2+ spaces
RE_NEEDS_COLLAPSE = re.compile(r"[^\S ]| {2,}")
RE_DOT_LEADER = re.compile(r"\.{5,}")  # C4, euaa_사례/pdf_to_json/main.py:33
RE_BULLET = re.compile(r"^[-‐–—−·•○:.]\s*")  # C5, metadata_generator.py:524-526
RE_STAR = re.compile(r"\*+")  # C5 second half, add_metadata.py:72-75
RE_HYPHEN_RUN = re.compile(r"-{2,}")  # C9, metadata_generator.py:536
RE_EDGE_CHARS = re.compile(r"^[:;* ]+|[:;* ]+$")  # C10, metadata_generator.py:538-540
RE_CODE_REF = re.compile(r"\s*\((?:IGC|IBC) Code \d+\.\d+\)")  # C6, metadata_generator.py:527
RE_PAREN_OPEN = re.compile(r"([\(\[])\s+")  # FSM cleanup "( text" -> "(text"
RE_PAREN_CLOSE = re.compile(r"\s+([\)\]])")  # FSM cleanup "text )" -> "text)"

# quote normalization table (C8, metadata_generator.py:76-83)
QUOTE_MAP = str.maketrans({"“": '"', "”": '"', "„": '"', "‟": '"',
                           "‘": "'", "’": "'", "`": "'"})

# text-heuristic header patterns (style-less span input; OUR contract —
# the reference detects headers from font style, which plain span tables
# lack, so numbering/casing stand in for size/boldness)
RE_H2_NUM = re.compile(r"^\d+\.\d+(?:\.\d+)*\.?\s+\S")  # "2.1 Title", "3.4.5 Title"
RE_H1_NUM = re.compile(r"^\d+\.?\s+\S")  # "2. Title", "7 Title"
RE_ALLCAPS = re.compile(r"^[A-Z][A-Z0-9 ,'&\-]{2,}$")  # "EXECUTIVE SUMMARY"
RE_H3_COLON = re.compile(r"^[^.?!]{1,60}:$")  # "Scope:" style run-in header
MAX_HEADER_WORDS = 12

# clean_fragment fast path trigger: a fragment needs the full cleanup
# chain only if it can contain a dot leader, a leading bullet char, a
# star, or whitespace that collapse_ws would change (any non-space
# whitespace, or a double space) — the alternation is exactly the union
# of the four cleanup patterns' trigger conditions; on a miss every pass
# is identity except the final strip
RE_CLEAN_TRIGGER = re.compile(r"\.{5,}|\*|[^\S ]|  |^[-‐–—−·•○:.]")

RE_SENT_BOUNDARY = re.compile(r"[.?!]+[\"')\]]*(?:\s+|$)")
# fast path: text whose ONLY terminal punctuation is one trailing run and
# which contains no brackets is exactly one sentence — skips the char walk
RE_SINGLE_SENTENCE = re.compile(r"^[^.?!()\[\]]*[.?!]+[\"')\]]*$")

RE_KOREAN = re.compile(r"[ㄱ-ㆎ가-힣]")  # C17, metadata_generator.py:383-421


# --------------------------------------------------------------------------
# scalar cleanups
# --------------------------------------------------------------------------

def collapse_ws(t: str) -> str:
    """C3 — whitespace collapse (layout_analyzer.py:88)."""
    if not RE_NEEDS_COLLAPSE.search(t):
        return t.strip()
    return RE_WS.sub(" ", t).strip()


def strip_dot_leaders(t: str) -> str:
    """C4 — TOC dot-leader removal (euaa_사례/pdf_to_json/main.py:33)."""
    return RE_DOT_LEADER.sub("", t)


def strip_bullet(t: str) -> str:
    """C5 — leading bullet strip + '*' collapse (metadata_generator.py:524-526)."""
    return RE_STAR.sub(" ", RE_BULLET.sub("", t))


def normalize_quotes(t: str) -> str:
    """C8 — curly quote normalization (metadata_generator.py:76-83)."""
    return t.translate(QUOTE_MAP)


def nfkc(t: str) -> str:
    """C11 — NFKC normalization (metadata_generator.py:359,542-543)."""
    return unicodedata.normalize("NFKC", t)


def clean_fragment(t: str) -> str:
    """Standard per-fragment cleanup applied before composition.

    Order matters and is part of the contract: dot-leaders first (they may
    create runs of whitespace), then bullet strip, then whitespace collapse.
    """
    return _clean_and_key(t)[0]


def _clean_and_key(t: str) -> tuple[str, str | None]:
    """``clean_fragment(t)``, plus ``collapse_ws(t)`` when it comes free:
    on the fast path (no cleanup trigger, which also means nothing for
    collapse_ws to collapse) both are ``t.strip()``, and when only
    whitespace triggered the cleanup both are the one collapse; otherwise
    the second is None and is computed only if needed."""
    if not RE_CLEAN_TRIGGER.search(t):
        s = t.strip()
        return s, s
    pre = strip_bullet(strip_dot_leaders(t))
    clean = collapse_ws(pre)
    return clean, clean if pre == t else None


def strip_code_refs(t: str) -> str:
    """C6 — remove '(IGC Code 1.2)' / '(IBC Code 3.4)' references
    (metadata_generator.py:527)."""
    return RE_CODE_REF.sub("", t)


def strip_edge_chars(t: str) -> str:
    """C10 — strip leading/trailing ':;* ' runs (metadata_generator.py:538-540)."""
    return RE_EDGE_CHARS.sub("", t)


RE_MD_FENCE = re.compile(r"(?m)^```(?:json)?\s*$\n?")


def strip_md_fences(t: str) -> str:
    """C2 — remove markdown code-fence lines before JSON parsing
    (main.py:546-551)."""
    return RE_MD_FENCE.sub("", t)


def strip_hyphen_runs(t: str) -> str:
    """C9 — remove '--', '---', ... (metadata_generator.py:536)."""
    return RE_HYPHEN_RUN.sub("", t)


# C7 — config-driven leading-numbering removal (metadata_generator.py:44-74).
# The reference compiles two ordered pattern lists from a JSON config file
# ('config_1-10_규칙.json', named by utils.get_default_config_path but NOT
# checked into the repo), so the exact pattern strings are unrecoverable;
# the MECHANISM is reproduced faithfully: common patterns compiled
# IGNORECASE and applied in every context, text-only ("dangerous") patterns
# appended AFTER them in 'text' context, first-match-only (`break` after
# the first pattern that matches), removal via sub(' ', count=1) followed
# by lstrip. The default lists below are documented stand-ins, overridable
# exactly like the reference's config.

COMMON_NUMBERING_PATTERNS = [
    re.compile(r"^\s*\(\d+(?:\.\d+)*\)\s+", re.IGNORECASE),  # "(1) ", "(1.2) "
    re.compile(r"^\s*\d+(?:\.\d+)+\.?\s+", re.IGNORECASE),   # "1.2 ", "1.2.3. "
    re.compile(r"^\s*[IVXLCDM]+\.\s+", re.IGNORECASE),       # "IV. ", "iv. "
    re.compile(r"^\s*[A-Z]\.\s+", re.IGNORECASE),            # "B. ", "b. "
]
TEXT_ONLY_NUMBERING_PATTERNS = [
    re.compile(r"^\s*\d+\.\s+"),  # "1. "  — risky in tables (row numbers)
    re.compile(r"^\s*\d+\)\s+"),  # "1) "
]


def remove_numbering(
    sentence: str, context: str = "text",
    common: list | None = None, text_only: list | None = None,
) -> str:
    """C7 — strip ONE leading numbering prefix (metadata_generator.py:44-74):
    ordered pattern scan, first match wins and stops the scan, matched
    span replaced by a space, then lstrip. In 'table' context only the
    common patterns apply (a leading bare number may be table data)."""
    if not sentence or not isinstance(sentence, str):
        return sentence
    patterns = list(common if common is not None else COMMON_NUMBERING_PATTERNS)
    if context == "text":
        patterns += list(
            text_only if text_only is not None else TEXT_ONLY_NUMBERING_PATTERNS
        )
    out = sentence
    for pat in patterns:
        if pat.match(out):
            out = pat.sub(" ", out, count=1)
            break
    return out.lstrip()


def normalize_for_pairing(t: str, context: str = "text") -> str:
    """The reference's pair-normalization chain
    (metadata_generator.py:524-543): bullet strip, code-ref strip,
    numbering removal (C7, context-dependent), quote normalization,
    hyphen-run removal, edge-char strip, NFKC, whitespace collapse —
    applied to both sides before text comparison."""
    t = strip_bullet(t)
    t = strip_code_refs(t)
    t = remove_numbering(t, context)
    t = normalize_quotes(t)
    t = strip_hyphen_runs(t)
    t = strip_edge_chars(t)
    t = nfkc(t)
    return collapse_ws(t)


def tighten_brackets(t: str) -> str:
    """FSM cleanup rule — '( text )' -> '(text)' (sentence_composer.py:375-377)."""
    return RE_PAREN_CLOSE.sub(r"\1", RE_PAREN_OPEN.sub(r"\1", t))


# --------------------------------------------------------------------------
# style-based tagging (the reference's exact rule)
# --------------------------------------------------------------------------

def body_size_mode(sizes: list[float]) -> int:
    """A3 — mode of rounded font sizes; ties broken by the smaller size.

    Mirrors Counter(round(s)).most_common(1) at layout_analyzer.py:120-123;
    Counter ties resolve by insertion order there, which is nondeterministic
    across shuffles — we pin ties to (max count, min size) for determinism.
    """
    if not sizes:
        return 0
    c = Counter(round(s) for s in sizes)
    best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
    return best[0]


def tag_by_style(size: float, flags: int, color: int, body_size: int) -> str:
    """H1/H2/H3/P from font style (layout_analyzer.py:128-143).

    H1: size >= 1.5*body AND bold; H3: bold AND color in H3_COLORS;
    H2: bold; else P.
    """
    bold = bool(flags & FLAG_BOLD)
    if bold and body_size > 0 and size >= H1_SIZE_RATIO * body_size:
        return "H1"
    if bold and color in H3_COLORS:
        return "H3"
    if bold:
        return "H2"
    return "P"


# --------------------------------------------------------------------------
# text-heuristic tagging (style-less span input)
# --------------------------------------------------------------------------

def tag_by_text(t: str) -> str:
    """Header detection from text shape alone (our contract for the
    ``input_hint`` span table, which carries no font style).

    A header candidate must not end in terminal punctuation and must be
    short (<= MAX_HEADER_WORDS words). Then:
      H2 if multi-level numbered ("2.1 …"), H1 if top-level numbered
      ("3. …") or ALL-CAPS, H3 if a short line ending in ':'.
    """
    if not t:
        return "P"
    if RE_H3_COLON.match(t):
        return "H3"
    if t[-1] in TERMINALS:
        return "P"
    if len(t.split()) > MAX_HEADER_WORDS:
        return "P"
    if RE_H2_NUM.match(t):
        return "H2"
    if RE_H1_NUM.match(t) or RE_ALLCAPS.match(t):
        return "H1"
    return "P"


# --------------------------------------------------------------------------
# reading order (W3) and margin strip (F1)
# --------------------------------------------------------------------------

def in_body(y0: float, y1: float, page_h: float) -> bool:
    """F1 — keep a block unless it lies ENTIRELY inside the header
    (top 5%) or footer (bottom 5%) margin: a block merely straddling a
    boundary is body, matching the reference's skip-only-when-fully-
    outside test (layout_analyzer.py:34-55, `block_bottom < header or
    block_top > footer -> skip`)."""
    return y1 >= HEADER_MARGIN * page_h and y0 <= FOOTER_MARGIN * page_h


def reading_order_key(x0: float, y0: float, page_w: float) -> tuple:
    """W3 — two-column sweep: column index (split at page_w/2), then y0,
    then x0 (layout_analyzer.py:57-66)."""
    col = 1 if x0 >= page_w / 2.0 else 0
    return (col, y0, x0)


# --------------------------------------------------------------------------
# run merge (W4) — merge adjacent same-tag headers
# --------------------------------------------------------------------------

def merge_columns(kinds: list, texts: list, media_refs: list) -> tuple[list, list, list]:
    """W4 — euaa_사례/pdf_to_json/main.py:18-74, over fragment columns.

    Adjacent fragments with the same header tag (H1/H2/H3) merge into one,
    joined by a single space (dot-leaders already stripped). P and media
    fragments pass through and break any run.
    """
    out_k: list = []
    out_t: list = []
    out_m: list = []
    for k, t, m in zip(kinds, texts, media_refs):
        if out_k and k in HEADER_KINDS and out_k[-1] == k:
            out_t[-1] = collapse_ws(out_t[-1] + " " + (t or ""))
        else:
            out_k.append(k)
            out_t.append(t)
            out_m.append(m)
    return out_k, out_t, out_m


def merge_consecutive_tags(frags: list[dict]) -> list[dict]:
    """``merge_columns`` over fragment dicts {kind, text, media_ref}."""
    return _frag_dicts(*merge_columns(*_frag_columns(frags)))


# --------------------------------------------------------------------------
# sentence-composition FSM (§2.8)
# --------------------------------------------------------------------------

def _bracket_delta(t: str) -> int:
    """Net open-bracket count of a fragment ((/[ minus )/])."""
    return t.count("(") + t.count("[") - t.count(")") - t.count("]")


def split_sentences(t: str) -> list[str]:
    """Split rule (sentence_composer.py:371-373): one fragment holding
    multiple complete sentences becomes one object per sentence.

    A sentence boundary is a run of terminal punctuation (optionally
    followed by closing quotes/brackets) at bracket depth 0, followed by
    whitespace or end-of-string. Splitting never occurs inside brackets,
    and never inside a number like '3.5' (the boundary regex requires
    trailing whitespace/EOS).
    """
    if RE_SINGLE_SENTENCE.match(t):
        s = t.strip()
        return [s] if s else []
    out: list[str] = []
    depth = 0
    start = 0
    i = 0
    n = len(t)
    while i < n:
        ch = t[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        elif ch in TERMINALS and depth == 0:
            m = RE_SENT_BOUNDARY.match(t, i)
            if m:
                piece = t[start : m.end()].strip()
                if piece:
                    out.append(piece)
                start = m.end()
                i = m.end()
                continue
        i += 1
    tail = t[start:].strip()
    if tail:
        out.append(tail)
    return out


def is_complete(t: str, open_depth: int) -> bool:
    """Merge-rule completion test (sentence_composer.py:364-369): the
    accumulated text ends with terminal punctuation (possibly followed by a
    closing quote/bracket) AND all opened brackets are closed."""
    if open_depth > 0:
        return False
    s = t.rstrip("\"')]")
    return bool(s) and s[-1] in TERMINALS


def _finalize_sentence(s: str) -> str:
    """Cleanup rule: whitespace collapse, then bracket tightening — which
    only applies when brackets exist, so its regex-sub passes are skipped
    unless a bracket is present."""
    s = collapse_ws(s)
    if "(" in s or "[" in s or ")" in s or "]" in s:
        s = tighten_brackets(s)
    return s


def compose_sentences(p_texts: list[str]) -> list[str]:
    """The FSM replacing the reference's composition LLM call
    (prompt spec at sentence_composer.py:354-404).

    * accumulate consecutive P fragments until `is_complete`;
    * a single fragment already containing multiple complete sentences is
      split (split rule);
    * cleanup: whitespace collapse + bracket tightening;
    * a trailing incomplete accumulation is emitted as-is (the reference
      keeps residuals rather than dropping text).

    The accumulation keeps fragments in a LIST and joins only at flush:
    the completion test is O(1) per fragment — `is_complete` on the
    joined buffer inspects only the buffer's trailing characters, which
    are the current fragment's own tail (or, when the fragment is all
    closing quotes/brackets, the joining space — never a terminal) —
    so long P runs cost O(total chars), not O(n^2) string rebuilding.
    """
    out: list[str] = []
    parts: list[str] = []
    depth = 0
    for frag in p_texts:
        frag = frag.strip()
        if not frag:
            continue
        parts.append(frag)
        depth += _bracket_delta(frag)
        if depth < 0:
            depth = 0
        if depth == 0:
            # is_complete(join(parts), 0) without building the join:
            # rstrip of the joined buffer stops inside this fragment, or
            # hits the join space (non-terminal) when the fragment is
            # entirely closing quotes/brackets
            fs = frag.rstrip("\"')]")
            if fs and fs[-1] in TERMINALS:
                for s in split_sentences(" ".join(parts)):
                    out.append(_finalize_sentence(s))
                parts = []
    if parts:
        # residual: may still contain complete inner sentences followed by
        # an incomplete tail — split what we can.
        for s in split_sentences(" ".join(parts)):
            out.append(_finalize_sentence(s))
    return out


# --------------------------------------------------------------------------
# invalid UTF-8 in span strings
# --------------------------------------------------------------------------

def repair_utf8(raw: bytes) -> str:
    """The text of span bytes that are not valid UTF-8: each invalid
    sequence becomes U+FFFD (``bytes.decode`` "replace"). The Arrow
    kernel applies it to a batch's strings only when the batch fails
    UTF-8 validation, so one bad span cannot fail the job."""
    return raw.decode("utf-8", "replace")


# --------------------------------------------------------------------------
# the documents-path contract: span columns in -> span columns out
# --------------------------------------------------------------------------
#
# The column functions are the implementation; the dict functions
# (tag_fragments, merge_consecutive_tags, compose_fragments,
# extract_document) wrap them for the oracle, the layout path and tests.
# The Arrow kernel (operators/extract.py) calls extract_columns on the
# flat children of a batch, so no per-span dict is ever built there.

def tag_columns(kinds: list, texts: list, media_refs: list,
                offsets: list) -> tuple[list, list, list]:
    """Stages 1-4 of extract_columns: order by offset, boilerplate strip,
    per-fragment cleanup + empty drop, text-heuristic tagging. Input: one
    document's span columns (NULL span elements already removed). Returns
    pre-merge fragment columns (kinds, texts, media_refs).

    Each span's text is cleaned once, and its collapsed boilerplate key
    is computed at most once (free when the cleanup fast path applies).
    """
    order = sorted(range(len(kinds)), key=offsets.__getitem__)
    cleaned: list = []  # per ordered span: clean text (media: its ref)
    keys: list = []  # per ordered span: collapse_ws(raw) or None if not yet known
    counted: list = []  # keys of the spans that count toward boilerplate
    for i in order:
        kind = kinds[i]
        if kind == "media":
            cleaned.append(media_refs[i] or "")
            keys.append(None)
            continue
        raw = texts[i] or ""
        clean, key = _clean_and_key(raw)
        if kind == "text" and raw and len(raw) <= BOILERPLATE_MAX_LEN:
            if key is None:
                key = collapse_ws(raw)
            counted.append(key)
        cleaned.append(clean)
        keys.append(key)
    # running header/footer lines in a style-less document (F1 analog
    # without geometry): short lines whose collapsed form repeats
    bp = {k for k, v in Counter(counted).items() if k and v >= BOILERPLATE_MIN_REPEATS}

    out_k: list = []
    out_t: list = []
    out_m: list = []
    for j, i in enumerate(order):
        kind = kinds[i]
        t = cleaned[j]
        if kind == "media":
            out_k.append("media")
            out_t.append("")
            out_m.append(t)
            continue
        if kind == "table":
            # structural table spans (HTML <table> cells; the input-hint
            # twin of layout_document's grid cells): same cleanup, fixed
            # tag, NO boilerplate participation — table-ness is known
            # from structure, not repetition (mirrors the layout path,
            # where the grid test overrides style tagging)
            tag = "table"
        else:
            # any non-media span whose collapsed text is a key is dropped,
            # counted or not (unknown kind, raw length over the cap)
            if bp:
                key = keys[j]
                if (collapse_ws(texts[i] or "") if key is None else key) in bp:
                    continue
            tag = None
        if not t:
            continue
        out_k.append(tag or tag_by_text(t))
        out_t.append(t)
        out_m.append("")
    return out_k, out_t, out_m


def compose_columns(kinds: list, texts: list, media_refs: list) -> tuple[list, list, list]:
    """Stage 6 of extract_columns, reusable for the layout path: tagged
    fragment columns -> final composed span columns, in output order."""
    out_k: list = []
    out_t: list = []
    out_m: list = []
    p_run: list = []

    def flush() -> None:
        sents = p_run if len(p_run) == 1 else compose_sentences(p_run)
        out_k.extend(["P"] * len(sents))
        out_t.extend(sents)
        out_m.extend([""] * len(sents))
        p_run.clear()

    for k, t, m in zip(kinds, texts, media_refs):
        if k == "P":
            p_run.append(t)
        else:
            if p_run:
                flush()
            out_k.append(k)
            out_t.append(t)
            out_m.append(m)
    if p_run:
        flush()
    return out_k, out_t, out_m


def extract_columns(kinds: list, texts: list, media_refs: list,
                    offsets: list) -> tuple[list, list, list]:
    """Full deterministic extraction for one document in ``input_hint``
    shape, over span columns. Input kinds: text|media|table (``table``
    arrives from structural sources — HTML <table> cells — and passes the
    FSM 1:1 like headers, same as layout grid cells). Output columns (kinds, texts, media_refs) in final
    reading order; kinds are H1|H2|H3|P|media|table, media interleaved in
    place. A span's output offset is its position (0-based).

    Stages (mirror of the reference pipeline, SURVEY.md §3.3):
      1. order by input offset;
      2. boilerplate strip (repeated short lines — F1 analog);
      3. per-fragment cleanup (C4, C5, C3) and empty drop (F3);
      4. text-heuristic tagging (H1/H2/H3/P);
      5. consecutive-header run merge (W4);
      6. sectionized sentence composition: P runs go through the FSM;
         headers pass through 1:1 (sentence_composer.py:515-526); a
         one-fragment P run passes through unchanged apart from cleanup
         (single-P passthrough, :533-537); media flushes the P buffer and
         is emitted at its reading-order position.
    """
    return compose_columns(*merge_columns(*tag_columns(kinds, texts, media_refs, offsets)))


def _span_columns(spans: list) -> tuple[list, list, list, list]:
    # NULL span elements (legal: SPANS is an array with containsNull)
    # yield no fragment and count toward no boilerplate key
    live = [s for s in spans if s is not None]
    return ([s["kind"] for s in live], [s["text"] for s in live],
            [s["media_ref"] for s in live], [s["offset"] for s in live])


def _frag_columns(frags: list[dict]) -> tuple[list, list, list]:
    return ([f["kind"] for f in frags], [f["text"] for f in frags],
            [f["media_ref"] for f in frags])


def _frag_dicts(kinds: list, texts: list, media_refs: list) -> list[dict]:
    return [{"kind": k, "text": t, "media_ref": m}
            for k, t, m in zip(kinds, texts, media_refs)]


def _span_dicts(kinds: list, texts: list, media_refs: list) -> list[dict]:
    return [{"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(zip(kinds, texts, media_refs))]


def tag_fragments(spans: list[dict]) -> list[dict]:
    """``tag_columns`` over span dicts; returns pre-merge fragments
    {kind, text, media_ref}. Exposed separately so the tagging stage can
    be measured on its own (perfbench's ``rules.tag_spans_per_s``)."""
    return _frag_dicts(*tag_columns(*_span_columns(spans)))


def extract_document(spans: list[dict]) -> list[dict]:
    """``extract_columns`` over span dicts {kind, text, media_ref, offset}
    (NULL elements allowed); returns output spans {kind, text, media_ref,
    offset} with offset = final reading order (0-based)."""
    return _span_dicts(*extract_columns(*_span_columns(spans)))


# --------------------------------------------------------------------------
# the layout-path contract: parsed styled lines -> tagged fragments
# --------------------------------------------------------------------------

def detect_table_lines(lines: list[dict]) -> list[bool]:
    """Grid-aligned bbox clusters -> ``table`` source_type (the third
    member of the reference's {table,image,text} taxonomy,
    main.py:316-338; image -> 'media' and text -> H*/P are already
    covered). Heuristic over one page's in-body lines:

      * bucket text lines into ROWS by quantized y0 (TABLE_Y_TOL);
      * a row holding lines at >= 2 distinct quantized x0 is a
        multi-cell row;
      * x0 buckets recurring in >= TABLE_MIN_ROWS multi-cell rows are
        grid COLUMNS;
      * CANDIDATE rows are multi-cell rows holding >= TABLE_MIN_COLS
        grid columns;
      * candidate rows must be vertically adjacent: only maximal runs
        of candidates whose consecutive qy gaps are <= TABLE_ROW_PITCH
        and whose length is >= TABLE_MIN_ROWS survive (a two-column
        BODY layout also has 2 recurring x0 columns with occasional
        chance y-alignments, but those are scattered, not consecutive);
      * every line sitting at a grid column inside a surviving row is a
        table cell.

    Returns a list of booleans parallel to ``lines``. Non-text lines
    (block_type != 0) are never cells. Pure bucket arithmetic — no
    pairwise distances, so the result is order-independent and exactly
    reproducible in set-based SQL (the table_detect oracle)."""
    rows: dict[int, list[tuple[int, int]]] = {}
    for i, ln in enumerate(lines):
        if ln["block_type"] != 0:
            continue
        qx = int(ln["bbox"]["x0"] // TABLE_X_TOL)
        qy = int(ln["bbox"]["y0"] // TABLE_Y_TOL)
        rows.setdefault(qy, []).append((i, qx))

    multi = {qy: items for qy, items in rows.items()
             if len({qx for _, qx in items}) >= 2}
    col_rows: dict[int, set[int]] = {}
    for qy, items in multi.items():
        for _, qx in items:
            col_rows.setdefault(qx, set()).add(qy)
    grid_cols = {qx for qx, ys in col_rows.items() if len(ys) >= TABLE_MIN_ROWS}

    flags = [False] * len(lines)
    if len(grid_cols) < TABLE_MIN_COLS:
        return flags

    candidates = sorted(
        qy for qy, items in multi.items()
        if len({qx for _, qx in items if qx in grid_cols}) >= TABLE_MIN_COLS
    )
    keep: set[int] = set()
    run: list[int] = []
    for qy in candidates:
        if run and qy - run[-1] > TABLE_ROW_PITCH:
            if len(run) >= TABLE_MIN_ROWS:
                keep.update(run)
            run = []
        run.append(qy)
    if len(run) >= TABLE_MIN_ROWS:
        keep.update(run)

    for qy in keep:
        for i, qx in multi[qy]:
            if qx in grid_cols:
                flags[i] = True
    return flags


def layout_document(pages: list[dict]) -> list[dict]:
    """Layout reconstruction for one document of parsed pages
    (each: {page, page_w, page_h, lines:[{text,size,flags,font,color,bbox,
    block_type, media_ref}]}).

    Margin strip (F1) -> table-grid detection (source_type contract,
    main.py:316-338) -> reading-order two-column sort (W3) -> body-size
    mode (A3) -> style tagging (§2.7) -> cleanup -> run merge (W4).
    Image lines (block_type != 0) become kind='media' spans kept at their
    reading-order position (F2 inversion per the north rule); grid cells
    become kind='table' (passed through the FSM 1:1 like headers, and
    eligible for remove_numbering's 'table' context downstream).
    Returns fragments {kind, text, media_ref} in final order.
    """
    frags: list[dict] = []
    # body size is a per-document statistic over text lines inside margins
    kept_pages = []
    all_sizes: list[float] = []
    for pg in sorted(pages, key=lambda p: p["page"]):
        kept = []
        for ln in pg["lines"]:
            bb = ln["bbox"]
            if not in_body(bb["y0"], bb["y1"], pg["page_h"]):
                continue
            kept.append(ln)
            if ln["block_type"] == 0:
                all_sizes.append(ln["size"])
        pairs = list(zip(kept, detect_table_lines(kept)))
        pairs.sort(key=lambda p: reading_order_key(
            p[0]["bbox"]["x0"], p[0]["bbox"]["y0"], pg["page_w"]))
        kept_pages.append(pairs)
    body = body_size_mode(all_sizes)

    for pairs in kept_pages:
        for ln, is_table in pairs:
            if ln["block_type"] != 0:
                frags.append({"kind": "media", "text": "", "media_ref": ln["media_ref"] or ""})
                continue
            t = clean_fragment(ln["text"] or "")
            if not t:
                continue
            if is_table:
                tag = "table"
            else:
                tag = tag_by_style(ln["size"], ln["flags"], ln["color"], body)
            frags.append({"kind": tag, "text": t, "media_ref": ""})

    return merge_consecutive_tags(frags)


def compose_fragments(frags: list[dict]) -> list[dict]:
    """``compose_columns`` over fragment dicts, reusable for the layout
    path: tagged fragments -> final composed spans with 0-based offsets."""
    return _span_dicts(*compose_columns(*_frag_columns(frags)))
