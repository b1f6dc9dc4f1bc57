"""The declared query surface (SURVEY.md §2 query keys).

Each entry pairs a PySpark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an ANSI-SQL oracle string DuckDB runs on the same parquet tables. The
driver hash-compares them (row count + schema + order-insensitive value hash),
so every computed column is aliased identically on both sides and all
nondeterminism is engineered out:

- doubles that pass through arithmetic are summed as DECIMAL(18,4) (exact,
  order-independent) and/or rounded to 4dp on BOTH sides;
- timestamps are emitted as epoch-µs/ms BIGINTs (no tz-rendering skew);
- rankings order by (rounded score, id) so ties break identically;
- token arithmetic is pure BIGINT (functions.tokens).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.functions import codecs
from cassandra_data_migrator_spark.functions.json_ops import explode_map, extract_json, json_to_map
from cassandra_data_migrator_spark.functions.text import (
    CJK_SINGLE_RE_RE2,
    FINGERPRINT_SQL,
    LANG_MARKERS,
    SCRIPT_TOKEN_RE_RE2,
    STOPWORDS,
    fingerprint,
    lang_id,
    lang_id_sql,
    quality_features,
    token_count_bpe_ish,
    token_count_ws,
    tokens,
)
from cassandra_data_migrator_spark.functions.tokens import (
    pmod_100,
    pmod_100_sql,
    slice_id_sql,
    tok,
    tok_sql,
)
from cassandra_data_migrator_spark.functions.writetime import (
    TTL_PROPS_SQL,
    TTL_VALUE_SQL,
    WRITETIME_PROPS_SQL,
    WRITETIME_VALUE_SQL,
    attach_event_ttls,
    attach_event_writetimes,
    max_ttl,
    max_writetime,
)
from cassandra_data_migrator_spark.operators import (
    dedup,
    interval,
    similarity,
    transforms,
    validation,
)
from cassandra_data_migrator_spark.operators.counters import job_counters
from cassandra_data_migrator_spark.operators.guardrail import colsize_guardrail
from cassandra_data_migrator_spark.operators.partition import slice_stats
from cassandra_data_migrator_spark.operators.windows import session_window, tumbling_window
from cassandra_data_migrator_spark.session import configure_session
from cassandra_data_migrator_spark.sources.parquet import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# Tunables shared between the Spark builders and their SQL oracles.
TOKEN_RANGE = (-1_500_000_000, 500_000_000)
COVERAGE_PERCENT = 15
WRITETIME_MIN_US = 1_704_153_600_000_000  # 2024-01-02T00:00:00Z
WRITETIME_MAX_US = 1_704_585_600_000_000  # 2024-01-07T00:00:00Z
WRITETIME_INCREMENT_US = 1_000
GUARDRAIL_MAX_BYTES = 450
NUM_SLICES = 32
SKIP_PREDICATE = "o_totalprice < 100000"
MIGRATE_FILTER = "o_totalprice >= 50000"
NGRAM_N = 3
NGRAM_THRESHOLD = 0.2
TOPK_K = 10
TOPK_QUERY_PRED = "vec_id < 5"
NEAR_DUP_PROBE_MOD = 50
NEAR_DUP_THRESHOLD = 0.3
SENTIMENT_LEXICON = {"fast": 1, "slow": -1, "big": 1, "small": -1, "good": 2, "bad": -2}
# train/val/test split: first two md5 hex chars, lexicographic cut points
# ('cd' ≈ 205/256 → ~80% train, 'e6' ≈ 230/256 → ~10% val, rest test)
SPLIT_TRAIN_LT = "cd"
SPLIT_VAL_LT = "e6"
# training-order shuffle: seeded key so re-runs reproduce the epoch order,
# contiguous position ranges map to output shards
TRAIN_SHUFFLE_SEED = "epoch0:"
TRAIN_SHUFFLE_SHARDS = 8
CHUNK_SIZE = 80
CHUNK_STRIDE = 60
# mixture weights for stratified sampling (percent kept per language)
STRATA_RATES = {"en": 90, "de": 50, "fr": 25, "es": 10, "zh": 75}
PACK_SHARDS = 16
PACK_BIN_TOKENS = 2048
CONTAM_NGRAM_N = 5
CONTAM_EVAL_MOD = 10
# IVF coarse quantizer: Lloyd cells and iterations
KMEANS_K = 8
KMEANS_ITERS = 4
KN_OOV_MOD = 9  # mod-9 held-out docs gain two novel tokens (backoff fixture)

TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_ORDER_COMPARE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    return load_table(spark, sf_dir, name)


def _nll4_exact(s6, n):
    """round(s6/n, 4) as EXACT integer arithmetic — half-up on the exact
    rational, immune to the double-ROUND half-boundary divergence between
    Spark (BigDecimal HALF_UP) and DuckDB (round-half-away on binary
    doubles) that turned one sf0.1 doc red (3.4042 vs 3.4043). ``s6`` is
    a positive DECIMAL(·,6) sum of 6dp-rounded logprob masses; ``n`` a
    positive bigint count. a = s6·10⁶ and every intermediate is an exact
    integer well under 2^53, so the one double division (a−r)/b is exact
    and both engines compute identical bits; the oracle restates the same
    arithmetic."""
    a = (s6 * 1_000_000).cast("bigint")
    b = n.cast("bigint") * 100
    r = a % b
    q4 = ((a - r) / b).cast("bigint") + F.when(2 * r >= b, 1).otherwise(0)
    return q4.cast("double") / 10_000.0 + F.lit(0.0)
