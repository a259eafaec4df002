"""Stable keys: the alert identity key and the corpus's cross-engine 60-bit hash.

The reference's only live UDF is ``uuidsha`` — sha1-hex over the ascii-sanitized,
stringified concatenation of the key columns (``/root/reference/src/alertas/
utils.py:26-43``), used by 13 alerts to mint ``alrt_key``.  The rebuild expresses it
entirely with JVM built-ins (no Python UDF → no serialization boundary in the hot path):

    sha1(concat_ws('', <canonical string per column>))

Canonical serialization (documented contract, pinned by golden tests):
* NULL → empty string (the reference renders None via ``str`` inside ``limpa`` which
  drops non-ascii — we normatively define NULL→'').
* timestamps/dates → ISO 'yyyy-MM-dd HH:mm:ss' / 'yyyy-MM-dd'.
* numbers → minimal decimal form via CAST TO STRING.
* non-ascii characters are stripped (reference ``limpa``, ``utils.py:26-31``).

The 60-bit hash ``h60`` is the one content-keyed hash of the corpus operators
(sampling, sharding, hashed features, sketches, MinHash/SimHash, splits).
Contract, identical in Spark (:func:`h60`), DuckDB (:func:`h60_sql`) and Python
(:func:`h60_py`):

* input: the UTF-8 bytes of ``salt || key``;
* value: the first 15 hex digits of their md5, read as an unsigned integer —
  always in [0, 2^60), so it fits a signed BIGINT on every engine;
* ``mod=M``: the value mod M (``pmod`` in Spark, ``%`` in DuckDB and Python —
  identical on a non-negative value).

Why md5: it is the one digest that Spark, DuckDB and ``hashlib`` all compute.
Spark's ``hash`` (murmur3) and ``xxhash64`` have no DuckDB twin, so an oracle
could not reproduce them.  The agreement of the three twins is pinned by
``tests/test_framework.py``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def _canon(col: Column) -> Column:
    s = F.coalesce(col.cast("string"), F.lit(""))
    # strip non-ascii, ≙ reference limpa() (utils.py:26-31)
    return F.regexp_replace(s, r"[^\x00-\x7F]", "")


def uuidsha(*cols: Column) -> Column:
    """sha1 hex of the canonical concatenation of ``cols`` (≙ utils.py:40-43)."""
    return F.sha1(F.concat_ws("", *[_canon(c) for c in cols]))


def alert_key(sigla: Column | str, key: Column, orgao: Column) -> Column:
    """``alrt_key = sigla || '.' || key || '.' || orgao`` — the dismissed-alert store
    contract (``jobs.py:264-271``; HBase key format create_hbase_ext_table.sql:1-8).
    A NULL key falls back to 'KEYUNDEFINED' (``jobs.py:268-270``)."""
    sig = F.lit(sigla) if isinstance(sigla, str) else sigla
    return F.concat_ws(".", sig, F.coalesce(key.cast("string"), F.lit("KEYUNDEFINED")),
                       orgao.cast("string"))


def h60(key: Column | str, salt: str = "", mod: int | None = None) -> Column:
    """md5(salt || key) → first 15 hex digits as a BIGINT in [0, 2^60),
    ``pmod`` ``mod`` when given.  ``key`` (a column or column name) is hashed
    as its string form."""
    k = (F.col(key) if isinstance(key, str) else key).cast("string")
    if salt:
        k = F.concat(F.lit(salt), k)
    h = F.conv(F.substring(F.md5(k), 1, 15), 16, 10).cast("bigint")
    return h if mod is None else F.pmod(h, F.lit(mod))


def h60_sql(key_sql: str, salt: str = "", mod: int | None = None) -> str:
    """DuckDB twin of :func:`h60` over a VARCHAR expression."""
    k = f"'{salt}' || {key_sql}" if salt else key_sql
    h = f"CAST(concat('0x', substring(md5({k}), 1, 15)) AS BIGINT)"
    return h if mod is None else f"{h} % {mod}"


def h60_py(s: str, mod: int | None = None) -> int:
    """Python twin of :func:`h60`; ``s`` is the salted key (salt + key)."""
    h = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8]) >> 4
    return h if mod is None else h % mod


def ln_uniform(h: Column) -> Column:
    """``round(ln((h+1)/2^60)·1e9)`` as a BIGINT: the quantized log of the
    uniform in (0, 1] an ``h60`` value stands for.  Quantizing the libm ``ln``
    to 1e-9 makes the result an exact integer on both engines."""
    return F.round(F.log((h + 1).cast("double") / F.lit(float(1 << 60)))
                   * 1e9).cast("bigint")


def ln_uniform_sql(h_sql: str) -> str:
    """DuckDB twin of :func:`ln_uniform`."""
    return (f"CAST(ROUND(LN(CAST({h_sql} + 1 AS DOUBLE) / {float(1 << 60)})"
            " * 1e9) AS BIGINT)")
