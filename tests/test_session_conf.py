"""No library call mutates session-global Spark conf.

A ``spark.conf.set`` outlives the call that made it and changes every
later query in the caller's session, so the library may set conf only
where that is its job or where it restores the value:

- ``session.py`` (``apply_runtime_confs``: the engine's required
  runtime confs, applied on purpose);
- ``sources/literals.py`` (the Arrow flag, scoped to one conversion and
  restored in a ``finally``).
"""

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lamindb_spark"
ALLOWED = {"session.py", "sources/literals.py"}


def test_conf_set_only_in_allowed_modules():
    offenders = [
        f"{path.relative_to(PKG).as_posix()}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() not in ALLOWED
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert offenders == []
