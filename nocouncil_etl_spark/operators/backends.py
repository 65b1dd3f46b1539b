"""Production model backends behind the deterministic-test seam (E1/E6/E9).

The reference runs real models: MiniLM-384 sentence embeddings
(vectorize.py:114-118, article_vectorize.py:342-346 — ``normalize_embeddings=
True``), Whisper speech-to-text (transcribe_council.py:86-90,110-111 — one
process-global model), and an ollama LLM summarizer (summarize.py:160-163).
This engine's operators run the same Spark plans with a deterministic backend
by default (oracle-checkable); this module supplies the production twins and
the switch.

Selection is by name, resolved from session conf so a deployment flips
backends without code changes:

    spark.conf.set("spark.nocouncil_etl_spark.embedBackend", "sentence_transformers")
    eng.embed(docs, "text")          # now MiniLM-384, same plan shape

Executor-side model loading follows the reference's process-global pattern:
a lazy per-process singleton, created on first batch, reused for the rest of
the executor's life (the Spark analogue of transcribe_council.py:110-111).
The model packages are NOT in this image, so the production paths are
import-guarded: constructing the UDF (and therefore the plan) always works;
executing it without the package raises a clear RuntimeError naming the
missing dependency. Plan identity between backends is asserted in
tests/test_backends.py; real-path execution tests skip when the package is
absent.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nocouncil_etl_spark.operators.models import hash_projection_embed

CONF_PREFIX = "spark.nocouncil_etl_spark."

EMBED_HASH = "hash"
EMBED_ST = "sentence_transformers"
ST_MODEL = "sentence-transformers/all-MiniLM-L6-v2"  # 384-d, vectorize.py:114

TRANSCRIBE_FAKE = "fake"
TRANSCRIBE_WHISPER = "whisper"
WHISPER_MODEL = "base"  # transcribe_council.py:110-111

LLM_STUB = "stub"
LLM_OLLAMA = "ollama"


def resolve_backend(spark: SparkSession, kind: str, default: str) -> str:
    """Read the backend name for `kind` ('embedBackend'/'transcribeBackend')
    from session conf; runtime-settable, driver-owned session safe."""
    return spark.conf.get(CONF_PREFIX + kind, default)


# --- per-executor lazy singletons --------------------------------------------

_SINGLETONS: dict[str, Any] = {}


def _load_sentence_transformer():
    model = _SINGLETONS.get("st")
    if model is None:
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as exc:
            raise RuntimeError(
                "embed backend 'sentence_transformers' requires the "
                "sentence-transformers package on every executor "
                "(pip install sentence-transformers); falling back is explicit: "
                "set spark.nocouncil_etl_spark.embedBackend=hash"
            ) from exc
        model = SentenceTransformer(ST_MODEL)
        _SINGLETONS["st"] = model
    return model


def _load_whisper():
    model = _SINGLETONS.get("whisper")
    if model is None:
        try:
            import whisper
        except ImportError as exc:
            raise RuntimeError(
                "transcribe backend 'whisper' requires openai-whisper on every "
                "executor; set spark.nocouncil_etl_spark.transcribeBackend=fake "
                "for the deterministic path"
            ) from exc
        model = whisper.load_model(WHISPER_MODEL)
        _SINGLETONS["whisper"] = model
    return model


# --- embedding ---------------------------------------------------------------


def make_embed_udf(backend: str = EMBED_HASH):
    """Arrow pandas_udf for the chosen embedding backend. Identical Spark
    plan either way (one ArrowEvalPython over the text column →
    array<double>); only the executor-side kernel differs."""
    if backend == EMBED_HASH:

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def embed_hash(texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: hash_projection_embed(t or ""))

        return embed_hash

    if backend == EMBED_ST:

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def embed_st(texts: pd.Series) -> pd.Series:
            model = _load_sentence_transformer()
            # normalize_embeddings=True mirrors vectorize.py:117
            mat = model.encode(
                texts.fillna("").tolist(), normalize_embeddings=True
            )
            return pd.Series([row.tolist() for row in mat])

        return embed_st

    raise ValueError(
        f"unknown embed backend {backend!r}; expected {EMBED_HASH!r} or {EMBED_ST!r}"
    )


# --- transcription -----------------------------------------------------------


def make_transcribe_map(
    backend: str = TRANSCRIBE_FAKE,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel for the chosen transcription backend; same output
    schema (TRANSCRIBE_SCHEMA) and one-to-many fan-out shape either way."""
    if backend == TRANSCRIBE_FAKE:
        from nocouncil_etl_spark.operators.models import transcribe_map

        return transcribe_map

    if backend == TRANSCRIBE_WHISPER:

        def whisper_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import os
            import tempfile

            model = _load_whisper()
            for pdf in batches:
                rows = []
                for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                    # whisper's API takes a file path; binary column → temp file
                    with tempfile.NamedTemporaryFile(
                        suffix=".mp4", delete=False
                    ) as fh:
                        fh.write(content)
                        path = fh.name
                    try:
                        result = model.transcribe(path)
                        for i, seg in enumerate(result["segments"]):
                            rows.append(
                                (
                                    doc_id,
                                    i,
                                    round(float(seg["start"]), 2),
                                    round(float(seg["end"]), 2),
                                    seg["text"],
                                )
                            )
                    finally:
                        os.unlink(path)
                yield pd.DataFrame(
                    rows, columns=["doc_id", "seg_id", "start", "end", "seg_text"]
                )

        return whisper_map

    raise ValueError(
        f"unknown transcribe backend {backend!r}; expected "
        f"{TRANSCRIBE_FAKE!r} or {TRANSCRIBE_WHISPER!r}"
    )


# --- HTML content extraction (S7/E10) -----------------------------------------
#
# The reference's extractor is a trafilatura → selenium → BeautifulSoup
# cascade with real HTTP + boilerplate removal (newscrawler.py:187-299). The
# deterministic expression cascade (plans/extract_plans.extract_cascade) is
# the oracle path; this seam supplies the production twin: a mapInPandas
# kernel that runs real extractors per row, first-success-wins, recording
# which extractor won and quarantining per-row failures. trafilatura and
# bs4 are public packages, import-guarded per extractor — an absent package
# just drops that rung of the cascade (selenium is deliberately out: it
# needs a browser runtime, not a pip install; its rung degrades to bs4,
# same coalesce semantics). The final rung is a stdlib tag-stripper, so the
# cascade always produces SOMETHING — matching the reference's "use the
# roughest extraction rather than drop the article" behavior.

HTML_EXTRACT_FAKE = "fake"
HTML_EXTRACT_CASCADE = "cascade"

HTML_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.StringType()),
        T.StructField("extractor", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_TAG_RE = re.compile(
    r"<(script|style)\b.*?</\1\s*>|<!--.*?-->|<[^>]+>", re.DOTALL | re.IGNORECASE
)


def strip_tags(html: str) -> str:
    """Stdlib last-resort extractor: drop script/style/comments, strip tags,
    unescape entities, collapse whitespace. Deterministic."""
    import html as html_mod

    text = _TAG_RE.sub(" ", html or "")
    return " ".join(html_mod.unescape(text).split())


def _try_trafilatura(html: str) -> str | None:
    try:
        import trafilatura
    except ImportError:
        return None
    return trafilatura.extract(html)  # None on failure → next rung


def _try_bs4(html: str) -> str | None:
    try:
        from bs4 import BeautifulSoup
    except ImportError:
        return None
    text = BeautifulSoup(html, "html.parser").get_text(" ", strip=True)
    return text or None


def make_extract_html_map(
    backend: str = HTML_EXTRACT_FAKE,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel (HTML_EXTRACT_SCHEMA out) over (doc_id, html).

    'fake' = the stdlib tag-stripper only (deterministic, runs anywhere —
    the test/oracle twin); 'cascade' = trafilatura → bs4 → stdlib,
    first-success-wins with the winner recorded, per-row quarantine."""
    if backend == HTML_EXTRACT_FAKE:
        rungs = [("builtin", strip_tags)]
    elif backend == HTML_EXTRACT_CASCADE:
        rungs = [
            ("trafilatura", _try_trafilatura),
            ("bs4", _try_bs4),
            ("builtin", strip_tags),
        ]
    else:
        raise ValueError(
            f"unknown html extract backend {backend!r}; expected "
            f"{HTML_EXTRACT_FAKE!r} or {HTML_EXTRACT_CASCADE!r}"
        )

    def extract_html_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                try:
                    content, winner = None, None
                    for name, fn in rungs:
                        content = fn(html or "")
                        if content:
                            winner = name
                            break
                    rows.append((doc_id, content or "", winner or "none", None))
                except Exception as exc:  # quarantine, never fail the stage
                    rows.append((doc_id, None, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(rows, columns=["doc_id", "content", "extractor", "error"])

    return extract_html_map


# --- LLM (summarize E6 / extract E7 / reduce E8) ------------------------------
#
# The reference's central model call is an ollama-served LLM
# (summarize.py:160-163: ollama HTTP, model llama3.2, temperature 0.001,
# max_tokens 20000), consumed by the summarizer/extractors at
# summarize.py:122,131,147. The production twin here speaks the same ollama
# /api/chat HTTP surface via the stdlib (no client package needed), with a
# per-executor keep-alive connection (the process-global-model pattern) and
# per-row error quarantine (skip-and-log, summarize.py:185-186): a down or
# misconfigured server yields rows with the error column set, never a failed
# stage. The deterministic stub stays the default and the oracle path.


@dataclass(frozen=True)
class LlmConfig:
    """Config surface of summarize.py:160-163, resolved from session conf:

        spark.nocouncil_etl_spark.llmBackend        stub | ollama
        spark.nocouncil_etl_spark.llm.baseUrl       default http://localhost:11434
        spark.nocouncil_etl_spark.llm.model         default llama3.2
        spark.nocouncil_etl_spark.llm.temperature   default 0.001
        spark.nocouncil_etl_spark.llm.maxTokens     default 20000
    """

    base_url: str = "http://localhost:11434"
    model: str = "llama3.2"
    temperature: float = 0.001
    max_tokens: int = 20000
    timeout: float = 120.0


def llm_config(spark: SparkSession) -> LlmConfig:
    d = LlmConfig()
    g = lambda k, v: spark.conf.get(CONF_PREFIX + "llm." + k, str(v))  # noqa: E731
    return LlmConfig(
        base_url=g("baseUrl", d.base_url),
        model=g("model", d.model),
        temperature=float(g("temperature", d.temperature)),
        max_tokens=int(g("maxTokens", d.max_tokens)),
        timeout=float(g("timeout", d.timeout)),
    )


def _llm_connection(base_url: str, timeout: float):
    """Per-executor keep-alive HTTP connection (lazy singleton per base_url)."""
    key = ("llm_conn", base_url)
    conn = _SINGLETONS.get(key)
    if conn is None:
        import http.client
        from urllib.parse import urlparse

        u = urlparse(base_url)
        cls = (
            http.client.HTTPSConnection
            if u.scheme == "https"
            else http.client.HTTPConnection
        )
        conn = cls(u.netloc, timeout=timeout)
        _SINGLETONS[key] = conn
    return conn


def ollama_chat(cfg: LlmConfig, prompt: str) -> str:
    """One /api/chat round trip (non-streaming). Retries once through a fresh
    connection when the kept-alive socket has gone stale; other failures
    propagate to the caller's per-row quarantine."""
    body = json.dumps(
        {
            "model": cfg.model,
            "messages": [{"role": "user", "content": prompt}],
            "stream": False,
            # ollama option names: num_predict is max_tokens
            "options": {
                "temperature": cfg.temperature,
                "num_predict": cfg.max_tokens,
            },
        }
    )
    import http.client

    for attempt in (0, 1):
        conn = _llm_connection(cfg.base_url, cfg.timeout)
        try:
            conn.request(
                "POST", "/api/chat", body, {"Content-Type": "application/json"}
            )
            resp = conn.getresponse()
            data = resp.read()
            if resp.status != 200:
                raise RuntimeError(
                    f"ollama {cfg.base_url} returned HTTP {resp.status}: "
                    f"{data[:200]!r}"
                )
            return json.loads(data)["message"]["content"]
        # HTTPException covers BadStatusLine/CannotSendRequest — the garbled
        # half of the stale-keep-alive modes (the clean-close half surfaces
        # as RemoteDisconnected ⊂ ConnectionError)
        except (
            ConnectionError,
            OSError,
            http.client.HTTPException,
            json.JSONDecodeError,
        ):
            _SINGLETONS.pop(("llm_conn", cfg.base_url), None)
            try:
                conn.close()
            except Exception:
                pass
            if attempt:
                raise
    raise AssertionError("unreachable")


_SUMMARIZE_PROMPT = (
    "Summarize the following document in one short paragraph, then list up "
    "to 3 notable quoted phrases, as JSON with keys \"summary\" and "
    "\"quotes\".\n\n"
)

_EXTRACT_PROMPT = (
    "List every docket number mentioned in the following document as a "
    "comma-separated list of integers, nothing else.\n\n"
)


def _parse_summary(content: str) -> tuple[str, list[str]]:
    """LLM output → (summary, quotes); tolerant of non-JSON replies (the
    dspy-signature analogue: structure requested, output still validated)."""
    try:
        obj = json.loads(content)
        if isinstance(obj, dict):
            quotes = obj.get("quotes") or []
            return str(obj.get("summary", "")), [str(q) for q in quotes]
    except json.JSONDecodeError:
        pass
    return content.strip(), []


def make_summarize_map(
    backend: str = LLM_STUB, cfg: LlmConfig | None = None
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel (SUMMARIZE_SCHEMA out) for the chosen LLM backend.
    Identical plan shape either way; the stub is the oracle path."""
    if backend == LLM_STUB:
        from nocouncil_etl_spark.operators.models import summarize_map

        return summarize_map

    if backend == LLM_OLLAMA:
        cfg = cfg or LlmConfig()

        def llm_summarize_map(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    try:
                        content = ollama_chat(cfg, _SUMMARIZE_PROMPT + (text or ""))
                        summary, quotes = _parse_summary(content)
                        rows.append(
                            (doc_id, summary, quotes, len((text or "").split(" ")), None)
                        )
                    except Exception as exc:  # quarantine, never fail the stage
                        rows.append(
                            (doc_id, None, None, None, f"{type(exc).__name__}: {exc}")
                        )
                yield pd.DataFrame(
                    rows, columns=["doc_id", "summary", "quotes", "n_words", "error"]
                )

        return llm_summarize_map

    raise ValueError(
        f"unknown llm backend {backend!r}; expected {LLM_STUB!r} or {LLM_OLLAMA!r}"
    )


def make_extract_map(
    backend: str = LLM_STUB, cfg: LlmConfig | None = None
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel (EXTRACT_SCHEMA out): docket-number extraction.
    Stub = deterministic regex twin (the oracle path); ollama = LLM prompt
    whose reply is still regex-validated, so malformed model output degrades
    to an empty list, not bad data."""
    if backend == LLM_STUB:
        from nocouncil_etl_spark.operators.models import extract_map

        return extract_map

    if backend == LLM_OLLAMA:
        cfg = cfg or LlmConfig()

        def llm_extract_map(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    try:
                        content = ollama_chat(cfg, _EXTRACT_PROMPT + (text or ""))
                        dockets = ",".join(re.findall(r"[0-9]+", content))
                        rows.append((doc_id, dockets, None))
                    except Exception as exc:
                        rows.append((doc_id, None, f"{type(exc).__name__}: {exc}"))
                yield pd.DataFrame(rows, columns=["doc_id", "dockets", "error"])

        return llm_extract_map

    raise ValueError(
        f"unknown llm backend {backend!r}; expected {LLM_STUB!r} or {LLM_OLLAMA!r}"
    )


def make_reduce_combine(
    backend: str = LLM_STUB, cfg: LlmConfig | None = None
) -> Callable[[Column], Column]:
    """Combiner for tree_reduce (E8): ordered array column → one value.
    Stub = JVM array_join (whole-stage codegen, the oracle path); ollama =
    Arrow pandas_udf that merges the partial summaries through the LLM —
    bounded fan-in keeps every merge prompt small (the fix for the
    reference's unbounded concat at summarize.py:91-97,147). LLM failures
    degrade to the deterministic join so the reduce still converges."""
    if backend == LLM_STUB:
        return lambda arr: F.array_join(arr, " ")

    if backend == LLM_OLLAMA:
        cfg = cfg or LlmConfig()

        @F.pandas_udf(T.StringType())
        def llm_merge(parts: pd.Series) -> pd.Series:
            def merge(items) -> str:
                joined = "\n\n".join(items)
                try:
                    return ollama_chat(
                        cfg,
                        "Merge these partial summaries into one coherent "
                        "summary:\n\n" + joined,
                    )
                except Exception:
                    return " ".join(items)

            return parts.map(merge)

        return lambda arr: llm_merge(arr)

    raise ValueError(
        f"unknown llm backend {backend!r}; expected {LLM_STUB!r} or {LLM_OLLAMA!r}"
    )
