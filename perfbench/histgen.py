"""Seeded migration-history generator for the ``migrate`` workload.

``generate(root, seed, count, start)`` writes ``count`` versioned
migrations (``V<version>_<name>.up.sql`` plus a ``.down.sql`` for every
one) under ``root`` and returns their manifest: the SQL, whether the up
file uses ``CONCURRENTLY`` (so it must run outside a transaction), and
the ``(version, rule)`` findings the analyzer must report.

Every migration has 2-4 statements. Each statement is drawn from a pool
of safe templates and planted danger templates whose rule is known, so
the expected findings follow from the draw alone. The output is a pure
function of ``(seed, count, start)``: same arguments, same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

# (rule or None, up template, down template); {t} is the table,
# {c} a column, {i} a unique suffix.
_SAFE = [
    (None, "CREATE TABLE {t} (id BIGSERIAL PRIMARY KEY, {c} TEXT);",
     "DROP TABLE IF EXISTS {t};"),
    (None, "ALTER TABLE {t} ADD COLUMN {c} TEXT;",
     "ALTER TABLE {t} DROP COLUMN IF EXISTS {c};"),
    (None, "ALTER TABLE {t} ADD COLUMN {c} INTEGER DEFAULT 0;",
     "ALTER TABLE {t} DROP COLUMN IF EXISTS {c};"),
    (None, "ALTER TABLE {t} ADD CONSTRAINT chk_{i} CHECK ({c} <> '') NOT VALID;",
     "ALTER TABLE {t} DROP CONSTRAINT IF EXISTS chk_{i};"),
    (None, "INSERT INTO {t} ({c}) VALUES ('seed-{i}');",
     "DELETE FROM {t} WHERE {c} = 'seed-{i}';"),
    (None, "UPDATE {t} SET {c} = lower({c}) WHERE id < {n};",
     "UPDATE {t} SET {c} = upper({c}) WHERE id < {n};"),
]
_CONCURRENT = (
    None, "CREATE INDEX CONCURRENTLY idx_{i} ON {t} ({c});",
    "DROP INDEX IF EXISTS idx_{i};",
)
_DANGER = [
    ("create-index-not-concurrent", "CREATE INDEX idx_{i} ON {t} ({c});",
     "DROP INDEX IF EXISTS idx_{i};"),
    ("add-column-volatile-default",
     "ALTER TABLE {t} ADD COLUMN {c}_at TIMESTAMPTZ DEFAULT now();",
     "ALTER TABLE {t} DROP COLUMN IF EXISTS {c}_at;"),
    ("add-constraint-without-not-valid",
     "ALTER TABLE {t} ADD CONSTRAINT chk_{i} CHECK ({c} <> '');",
     "ALTER TABLE {t} DROP CONSTRAINT IF EXISTS chk_{i};"),
    ("alter-column-type", "ALTER TABLE {t} ALTER COLUMN {c} TYPE VARCHAR(255);",
     "ALTER TABLE {t} ALTER COLUMN {c} TYPE TEXT;"),
    ("set-not-null", "ALTER TABLE {t} ALTER COLUMN {c} SET NOT NULL;",
     "ALTER TABLE {t} ALTER COLUMN {c} DROP NOT NULL;"),
    ("drop-table", "DROP TABLE {t}_old;",
     "CREATE TABLE {t}_old (id BIGSERIAL PRIMARY KEY);"),
    ("vacuum-full", "VACUUM FULL {t};", "ANALYZE {t};"),
    ("lock-table", "LOCK TABLE {t} IN ACCESS EXCLUSIVE MODE;", "SELECT 1;"),
    ("rename", "ALTER TABLE {t} RENAME COLUMN {c} TO {c}_v{i};",
     "ALTER TABLE {t} RENAME COLUMN {c}_v{i} TO {c};"),
]
_TABLES = ["users", "orders", "invoices", "events", "accounts", "sessions"]
_COLUMNS = ["email", "status", "note", "ref", "label", "region"]


def checksum(sql: str) -> str:
    """The ledger checksum of an up file: sha256 of its trimmed text."""
    return hashlib.sha256(sql.encode("utf-8")).hexdigest()


def _migration(rng: random.Random, version: int) -> dict:
    ups, downs, rules = [], [], []
    concurrent = rng.random() < 0.1
    for k in range(rng.randint(2, 4)):
        if concurrent and k == 0:
            rule, up, down = _CONCURRENT
        elif rng.random() < 0.35:
            rule, up, down = rng.choice(_DANGER)
        else:
            rule, up, down = rng.choice(_SAFE)
        fields = {
            "t": rng.choice(_TABLES), "c": rng.choice(_COLUMNS),
            "i": f"{version}_{k}", "n": rng.randint(10, 10_000),
        }
        ups.append(up.format(**fields))
        downs.append(down.format(**fields))
        if rule:
            rules.append(rule)
    name = f"change_{rng.choice(_TABLES)}_{version}"
    up_sql = "\n".join(ups)
    return {
        "version": f"{version:04d}",
        "name": name,
        "up_sql": up_sql,
        # a rollback undoes the statements in reverse order
        "down_sql": "\n".join(reversed(downs)),
        "checksum": checksum(up_sql),
        "concurrent": concurrent,
        "rules": sorted(rules),
    }


def generate(root: str, seed: int, count: int, start: int = 1) -> list[dict]:
    """Write migrations ``start .. start+count-1`` under ``root`` and their
    manifest (``manifest-<start>.json``, which the migration loader does
    not read); return the manifest in version order. Each version's
    content depends only on ``(seed, version)``, so a deploy batch
    generated later with a higher ``start`` extends the same history."""
    os.makedirs(root, exist_ok=True)
    manifest = []
    for version in range(start, start + count):
        mig = _migration(random.Random(f"{seed}:{version}"), version)
        stem = os.path.join(root, f"V{mig['version']}_{mig['name']}")
        with open(stem + ".up.sql", "w") as fh:
            fh.write(mig["up_sql"] + "\n")
        with open(stem + ".down.sql", "w") as fh:
            fh.write(mig["down_sql"] + "\n")
        manifest.append(mig)
    with open(os.path.join(root, f"manifest-{start}.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def expected_findings(manifest: list[dict]) -> list[tuple[str, str]]:
    """Sorted ``(version, rule)`` pairs the analyzer must report."""
    return sorted((m["version"], r) for m in manifest for r in m["rules"])
