"""Every top-level def in the package is reachable from what the engine
runs, or is listed in ``ALLOWED_UNREACHABLE`` with its reason.

AST only: no Spark, no import of the package. The roots are the
``@declare`` query builders, every other module-level statement of the
package (a top-level ``import`` there only binds a name; it counts once
something uses the name), and all of ``tools/``, ``perfbench/``,
``fixtures/``, ``bench.py``, ``__spark_entry__.py`` and
``tests/_compare.py``. A def is reachable when its name appears in a
root or in the body of a reachable def, as a ``Name``, an ``Attribute``
or an import alias. Matching by bare name over-approximates
reachability, so the scan never flags a def that something calls.

Each allowlist reason starts with one of three prefixes:

- ``reference:`` a test compares production code against it;
- ``no declared query:`` a capability COVERAGE.md claims that no
  declared query runs yet;
- ``helper of <name>:`` only the listed def ``<name>`` uses it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "blockchaintoavro_spark"
ROOT_FILES = (
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "fixtures").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "tests" / "_compare.py",
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

ALLOWED_UNREACHABLE = {
    # reference implementations
    "sources.avro_io.read_ocf": "reference: the whole-file decoder the Avro tests read engine-written containers back with",
    "sources.avro_io.write_ocf": "reference: the single-file writer the Avro tests build inputs with and compare the Arrow encoder's bytes against",
    "operators.heavyhitters.exact_heavy_hitters": "reference: the full-groupBy answer heavy_hitters must equal (test_heavyhitters)",
    "operators.quality.gopher_metrics": "reference: the Column form with_gopher_metrics must match bit for bit (test_dataframe_quality_helpers_match_column_forms)",
    "operators.quality.dup_ngram_ratio": "reference: the Column form with_dup_ngram_ratio must match bit for bit (test_dataframe_quality_helpers_match_column_forms)",
    "functions.html.html_extract_multilang": "reference: the Column form with_html_extract_multilang must match bit for bit (test_with_html_extract_multilang_matches_column_form)",
    "functions.html.html_detect_lang": "reference: the language-only Column form, checked against html_extract_multilang's lang (test_html)",
    "functions.html._detect_from_text": "helper of html_extract_multilang: the stopword-hit argmax shared with html_detect_lang",
    "functions.jpeg.ycbcr_to_rgb": "reference: the YCbCr to RGB step the javax.imageio cross-check compares decoded planes through (test_imaging)",
    "operators.similarity.centroid_norms": "reference: the JVM decomposition the centroid_norm pandas UDAF (x_udaf_centroid_norm) must match to 1e-9",
    # COVERAGE.md capabilities without a declared query
    "functions.base58.script_to_address_py": "no declared query: scriptPubKey to mainnet address derivation (COVERAGE §2.6; mainnet vectors in test_script_to_address_mainnet_vectors)",
    "functions.base58.base58check_encode_py": "helper of script_to_address_py: the Base58Check step of the address derivation",
    "functions.text.shingles": "no declared query: word n-gram shingles for MinHash/Jaccard near-dup",
    "functions.text.fingerprint": "no declared query: sha256 document fingerprint over normalized tokens",
    "operators.afp.afp_codes": "no declared query: per-clip 63-bit audio fingerprint (COVERAGE X2/X5 perceptual AUDIO near-dup)",
    "operators.phash.phash_codes": "no declared query: per-image 63-bit pHash (COVERAGE X2/X5 perceptual IMAGE near-dup)",
    "operators.phash.video_phash_codes": "no declared query: per-frame video pHash (COVERAGE X2/X5 perceptual VIDEO near-dup)",
    "operators.multimodal.extract_audio_features": "no declared query: WAV header features over binary payloads (COVERAGE X5 multimodal: audio)",
    "operators.multimodal.sample_frames": "no declared query: GIF/AVI/MP4 frame sampling over binary payloads (COVERAGE X5 multimodal)",
    "operators.dedup.exact_dedup": "no declared query: keep the min-id row per identical content (COVERAGE X1 exact dedup)",
    "operators.dsir.fit_dsir_logratios": "no declared query: fitting the DSIR bucket log-ratios (COVERAGE X4 DSIR importance resampling)",
    "operators.quality.train_hashed_linear": "no declared query: training the hashed linear quality classifier (COVERAGE X4 model-based quality filter)",
    "operators.quality.fit_bigram_lm": "no declared query: fitting the Stupid-Backoff bigram LM on a reference corpus (COVERAGE X4 bigram LM)",
    "operators.layout.zorder_by": "no declared query: Z-order re-clustering into contiguous key ranges (COVERAGE data layout: Z-order)",
    "operators.manifest.register_commit_publisher": "no declared query: installing an object-store commit primitive per scheme (COVERAGE manifest commit)",
    "operators.manifest.conditional_put_publisher": "no declared query: the conditional-write commit publisher (COVERAGE manifest commit)",
    "operators.manifest.http_put_if_absent": "no declared query: create-if-absent over HTTP(S) for S3/GCS/Azure (COVERAGE manifest commit)",
    "operators.manifest.segment_column_stats": "no declared query: per-column min/max stats riding a segment commit (COVERAGE manifest data skipping)",
    "operators.pq.build_ivfpq_index": "no declared query: persisted IVFADC index build (COVERAGE X3 IVFADC composition)",
    "operators.pq.append_to_ivfpq_index": "no declared query: IVFADC index append with zero training jobs (COVERAGE X3c ANN index append)",
    "operators.pq.query_ivfpq": "no declared query: top-k against a persisted IVFADC index (COVERAGE X3 IVFADC composition)",
    "operators.pq.read_ivfpq_codes": "helper of query_ivfpq: the committed code table of a persisted IVFADC index",
    "operators.pq._read_ivfpq_model": "helper of query_ivfpq: the centroid and codebook collects, shared with append_to_ivfpq_index",
    "operators.similarity.dequantize_embeddings": "no declared query: the int8 embedding decode (COVERAGE X3b embedding quantization)",
    "operators.similarity.embedding_simhash64": "no declared query: sign-random-projection embedding codes (COVERAGE X2c incremental near-dup index, hamming kind)",
    "operators.similarity.with_lsh_bucket": "no declared query: single-table random-hyperplane LSH bucket column (COVERAGE X2 embedding near-dup)",
    "operators.similarity._sign_bits": "helper of embedding_simhash64: the sign-pattern assembly shared with with_lsh_bucket",
    "operators.similarity.query_ivf": "no declared query: top-k against a persisted IVF index (COVERAGE X3 ANN index persistence)",
    "operators.split.hash_sample": "no declared query: salted deterministic sampling (COVERAGE X6 split and sampling)",
    "operators.substr_sorted.SortedDictStripper": "no declared query: the streaming sorted strip applier (COVERAGE X1d streaming sorted strip)",
    "operators.substr_sorted._store_token": "helper of SortedDictStripper: the dictionary store's snapshot identity",
    "operators.substr_sorted.write_dup_dictionary": "no declared query: materializing the standing fingerprint dictionary SortedDictStripper reads (COVERAGE X1d streaming sorted strip)",
    "operators.substr_sorted.read_dup_dictionary": "helper of SortedDictStripper: reads the committed dictionary generation",
    "operators.substr_sorted.refresh_dup_dictionary": "no declared query: deriving the dictionary from the gram-count store (COVERAGE X1d incremental substring detection)",
    "operators.substr_sorted.read_stripped": "no declared query: reading what SortedDictStripper committed (COVERAGE X1d streaming sorted strip)",
    "operators.validate.check_rows": "no declared query: per-row rule violations for a quarantine sink (COVERAGE guardrails: expectations)",
    "sources.jsonl.corrupt_lines": "no declared query: the quarantined rows of a read_jsonl scan (COVERAGE JSONL source)",
    "streaming.joins.streaming_interval_join": "no declared query: watermarked stream-stream interval join (COVERAGE streaming)",
    "streaming.monitor.ProgressMonitor": "no declared query: per-batch progress listener (COVERAGE ST7 queue monitoring)",
    "streaming.monitor.drain_and_stop": "no declared query: graceful drain then stop (COVERAGE ST8 graceful drain)",
    "streaming.stateful.streaming_dedup": "no declared query: watermark-bounded first-seen dedup (COVERAGE ST5 watermark/late data)",
    "streaming.stateful.running_user_totals": "no declared query: applyInPandasWithState running totals (COVERAGE custom stateful op)",
    "streaming.windows.streaming_tumbling_agg": "no declared query: event-time tumbling aggregation (COVERAGE ST2)",
    "streaming.windows.streaming_sliding_counts": "no declared query: sliding-window counts (COVERAGE ST3)",
    "streaming.windows.streaming_session_agg": "no declared query: session windows (COVERAGE ST4)",
    "streaming.windows._with_event_time": "helper of streaming_tumbling_agg: the NTZ to TIMESTAMP cast shared by the three window aggregations",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
            out.add((n.asname or n.name).partition(".")[0])
    return out


def _is_declare(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "declare"


def unreachable_defs() -> set[str]:
    """``module.name`` (relative to the package) of every top-level def
    that no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, _DEFS):
                defs.setdefault(st.name, []).append((mod, st))
                for dec in st.decorator_list:
                    roots |= _names(dec)
                if any(_is_declare(d) for d in st.decorator_list):
                    roots.add(st.name)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names(st)
    for path in ROOT_FILES:
        roots |= _names(ast.parse(path.read_text()))
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _mod, node in defs.get(name, ()):
            todo.extend(_names(node) - seen)
    return {
        f"{mod}.{name}"
        for name, nodes in defs.items()
        if name not in seen
        for mod, _node in nodes
    }


def test_unreachable_defs_equal_allowlist():
    dead = unreachable_defs()
    unlisted = sorted(dead - ALLOWED_UNREACHABLE.keys())
    stale = sorted(ALLOWED_UNREACHABLE.keys() - dead)
    assert not unlisted, (
        f"package defs nothing the engine runs can reach: {unlisted}; "
        "delete them, or list each with its reason"
    )
    assert not stale, f"allowlisted defs that are reachable or gone: {stale}"


def test_allowlist_reasons_carry_a_known_prefix():
    short = {key.rpartition(".")[2] for key in ALLOWED_UNREACHABLE}
    for key, reason in ALLOWED_UNREACHABLE.items():
        if reason.startswith("helper of "):
            owner = reason[len("helper of "):].partition(":")[0]
            assert owner in short, f"{key}: helper of unlisted {owner!r}"
        else:
            assert reason.startswith(("reference:", "no declared query:")), key
