"""Engine configuration: the reference's ``.env`` surface, Spark-first.

The reference enumerates casters from numbered environment-variable
groups (``{prefix}_CASTER_ID/_URL/_USER/_PASSWORD/_MOUNTPOINT``,
reference ``src/ingestion.py:551-579``), plus flat ``DB_*`` and
multiprocessing knobs (``src/ingestion.py:937-952``, dataclasses in
``src/settings.py``). This module parses the same format so an existing
deployment's ``.env`` drives this engine unchanged:

* caster groups  → the ``casters`` JSON option of the ``ntrip_live``
  streaming source (one entry per (caster, mountpoint) pair — Spark's
  unit of read parallelism);
* ``DB_*``       → JDBC sink url/properties + the
  ``store_observations`` gate (``DB_STORE_OBSERVATIONS``);
* multiprocessing knobs → their Spark equivalents, or explicitly
  obsolete (executors replace the reader/decoder process topology —
  SURVEY §2.3 D4/D5).

No python-dotenv dependency: ``read_dotenv`` implements the same
KEY=VALUE subset the reference relies on (comments, blank lines,
optional ``export`` prefix, single/double quotes).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Mapping


@dataclass
class CasterSettings:
    """One caster connection group (reference src/settings.py:18-22)."""

    caster_id: str = ""
    url: str = ""
    user: str = ""
    password: str = ""
    mountpoints: list[str] = field(default_factory=list)


@dataclass
class DbSettings:
    """Sink connection settings (reference src/settings.py:8-14)."""

    host: str = ""
    port: int = 5432
    database: str = ""
    user: str = ""
    password: str = ""
    store_observations: bool = True


@dataclass
class EngineSettings:
    """Spark-side equivalents of the reference's multiprocessing knobs
    (src/settings.py:25-30). ``max_readers`` caps live-source
    partitions; the reader/decoder process split and the shared-list
    check intervals have no Spark analogue (executors + micro-batches
    replace them) and are carried only for round-tripping."""

    max_readers: int | None = None
    readers_per_decoder: int | None = None  # obsolete under Spark
    multiprocessing_active: bool = True  # obsolete: always distributed
    clear_check: float | None = None  # obsolete: micro-batch boundary
    append_check: float | None = None  # obsolete: trigger interval


# keys may start with a digit — the reference's caster prefixes are
# numbers ("1_CASTER_ID"), which shells reject but dotenv files carry
_LINE = re.compile(
    r"""^\s*(?:export\s+)?([A-Za-z0-9_]+)\s*=\s*(.*?)\s*$"""
)


def read_dotenv(path: str) -> dict[str, str]:
    """Minimal .env reader: KEY=VALUE per line, ``#`` comment lines,
    optional ``export`` prefix, surrounding single/double quotes
    stripped. Unquoted values keep everything after ``=`` (the
    reference's passwords may contain ``#``, so no inline comments)."""
    out: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            if not s or s.startswith("#"):
                continue
            m = _LINE.match(line)
            if not m:
                continue
            key, val = m.group(1), m.group(2)
            if len(val) >= 2 and val[0] == val[-1] and val[0] in "'\"":
                val = val[1:-1]
            out[key] = val
    return out


def _merge_env(
    env: Mapping[str, str] | None, dotenv_path: str | None
) -> dict[str, str]:
    """Process env layered over ``.env`` file values. Matches the
    reference's ``load_dotenv()`` (python-dotenv ``override=False``,
    src/ingestion.py): a variable already set in the process
    environment WINS over the same key in the file."""
    merged: dict[str, str] = dict(os.environ if env is None else env)
    if dotenv_path:
        for k, v in read_dotenv(dotenv_path).items():
            merged.setdefault(k, v)
    return merged


def load_caster_settings(
    env: Mapping[str, str] | None = None, dotenv_path: str | None = None
) -> dict[str, CasterSettings]:
    """Enumerate ``{prefix}_CASTER_*`` groups exactly as the reference
    does (src/ingestion.py:551-579): a group exists when
    ``{prefix}_CASTER_ID`` is set and not the literal ``"Empty"``; the
    prefix is everything before the first ``_``; mountpoints are
    comma-separated and stripped, with the empty string yielding []."""
    merged = _merge_env(env, dotenv_path)

    casters: dict[str, CasterSettings] = {}
    for key in sorted(merged):
        if not key.endswith("_CASTER_ID") or merged[key] == "Empty":
            continue
        prefix = key.split("_")[0]
        mounts = [
            m.strip()
            for m in merged.get(f"{prefix}_CASTER_MOUNTPOINT", "").split(",")
        ]
        if mounts == [""]:
            mounts = []
        casters[merged[key]] = CasterSettings(
            caster_id=merged[key],
            url=merged.get(f"{prefix}_CASTER_URL", ""),
            user=merged.get(f"{prefix}_CASTER_USER", ""),
            password=merged.get(f"{prefix}_CASTER_PASSWORD", ""),
            mountpoints=mounts,
        )
    return casters


def load_db_settings(
    env: Mapping[str, str] | None = None, dotenv_path: str | None = None
) -> DbSettings:
    """Flat ``DB_*`` keys (reference src/ingestion.py:940-945).
    ``DB_STORE_OBSERVATIONS`` compares against the literal ``"True"``,
    matching the reference's semantics (anything else is false)."""
    merged = _merge_env(env, dotenv_path)
    return DbSettings(
        host=merged.get("DB_HOST", ""),
        port=int(merged.get("DB_PORT", "5432") or 5432),
        database=merged.get("DB_NAME", ""),
        user=merged.get("DB_USER", ""),
        password=merged.get("DB_PASSWORD", ""),
        store_observations=merged.get("DB_STORE_OBSERVATIONS", "True") == "True",
    )


def load_engine_settings(
    env: Mapping[str, str] | None = None, dotenv_path: str | None = None
) -> EngineSettings:
    merged = _merge_env(env, dotenv_path)

    def _int(key: str) -> int | None:
        v = merged.get(key)
        return int(v) if v not in (None, "") else None

    def _float(key: str) -> float | None:
        v = merged.get(key)
        return float(v) if v not in (None, "") else None

    return EngineSettings(
        max_readers=_int("MAX_READERS"),
        readers_per_decoder=_int("READERS_PER_DECODER"),
        multiprocessing_active=merged.get("MULTIPROCESSING_ACTIVE", "True")
        == "True",
        clear_check=_float("CLEAR_CHECK"),
        append_check=_float("APPEND_CHECK"),
    )


def casters_option(
    casters: Mapping[str, CasterSettings], max_readers: int | None = None
) -> str:
    """Flatten caster groups into the ``ntrip_live`` source's
    ``casters`` JSON option: one entry per (caster, mountpoint) pair,
    each getting one receiver thread and one caster connection (the
    reference's one-task-per-mountpoint topology,
    src/ingestion.py:61-95). ``max_readers`` caps the total, matching
    MAX_READERS semantics."""
    entries = [
        {
            "url": c.url,
            "mountpoint": mp,
            "user": c.user,
            "password": c.password,
            "caster_id": cid,
        }
        for cid, c in casters.items()
        for mp in c.mountpoints
    ]
    if max_readers is not None:
        entries = entries[:max_readers]
    return json.dumps(entries)


def jdbc_url(db: DbSettings) -> str:
    return f"jdbc:postgresql://{db.host}:{db.port}/{db.database}"


def jdbc_options(db: DbSettings) -> dict[str, str]:
    return {"user": db.user, "password": db.password,
            "driver": "org.postgresql.Driver"}
