"""Permanent CI wiring for the FULL cross-engine type-parity audit
(VERDICT r7 #8): any future query whose Spark/DuckDB output types would
hash-diverge (the r6 HUGEINT class) fails at commit time, not at the
driver.

tests/test_oracle_types.py is the fast per-commit guard (binds oracles
only); this tier constructs every registered Spark plan too and
compares both engines' output schemas by hash-compatibility class.
Runs as a subprocess so the audit gets the tool's own plain session
instead of inheriting this suite's configured one. The subprocess takes
minutes, so tests/conftest.py starts it when this test is collected and
lets it run beside the rest of the suite; this test waits for it and
checks its result.
"""

from __future__ import annotations


def test_full_registry_type_parity(type_parity_audit):
    returncode, output = type_parity_audit
    tail = "\n".join(output.splitlines()[-15:])
    assert returncode == 0, f"type-parity audit failed:\n{tail}"
    assert "0 type-class mismatches, 0 construction errors" in output
