"""Run lifecycle + provenance — the reference's ``ln.track()`` /
``ln.finish()`` (reference ``core/_context.py:506-947`` and ``:949+``).

``track`` hashes the transform's source, get-or-creates the Transform
(same hash → same transform; same key + new hash → new version in the
uid family), opens a Run row, and arms the lakehouse so every
``open_artifact`` call records a run-input edge (L3) and every
``register_artifact`` stamps ``run_id`` (outputs). ``finish`` closes
the run. Lineage queries (ancestors/descendants of an artifact through
runs) are iterative closures over the bridge tables (G3).
"""

from __future__ import annotations

import datetime
import hashlib
import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog.lakehouse import Lakehouse, _newest, _now
from ..functions.ids import base62, generate_uid
from ..operators.graph import closure
from .redaction import redact_params as _redact_params


class Context:
    """One tracked run over a Lakehouse."""

    def __init__(self, lakehouse: Lakehouse):
        self.lh = lakehouse
        self.run: dict[str, Any] | None = None
        self.transform: dict[str, Any] | None = None

    def track(
        self,
        key: str,
        source_code: str = "",
        kind: str = "pipeline",
        params: dict[str, Any] | None = None,
        source_path: str | None = None,
        sync_git: bool = False,
        track_environment: bool = False,
    ) -> "Context":
        """Open a tracked run. ``source_path`` reads the source from a
        file (and is what ``sync_git=True`` resolves the git
        provenance of — reference ``core/_sync_git.py``);
        ``track_environment=True`` freezes the Python environment into
        a hash-deduped artifact linked as ``run.environment``
        (reference does this unconditionally at ``_context.py:815``;
        here it is a flag because a pip-freeze subprocess per run is a
        measurable cost in an engine context)."""
        if source_path is not None and not source_code:
            with open(source_path) as fh:
                source_code = fh.read()
        git_ref = None
        if sync_git and source_path is not None:
            from .environment import transform_reference_from_git

            git_ref = transform_reference_from_git(source_path)
        self.transform = _get_or_create_transform(
            self.lh, key, source_code, kind, git_ref=git_ref
        )
        run_row = {
            "id": self.lh.next_id("run"),
            "uid": generate_uid(20),
            "transform_id": self.transform["id"],
            "started_at": _now(),
            "status_code": 1,  # started
            # sensitive param keys / credentialed-URL values are
            # redacted before storage (reference core/_context.py:424)
            "params": json.dumps(_redact_params(params or {})),
            # nested tracking: the run that was active when this one
            # started is its initiator (reference Run.initiated_by_run)
            "initiated_by_run_id": self.lh.current_run_id,
            "branch_id": self.lh.current_branch_id,
            "created_at": _now(),
        }
        self.lh._append("run", [run_row])
        self.run = run_row
        # remember the enclosing run so finish() can RESTORE it — a
        # nested @tracked call must not clobber the outer run's
        # lineage capture (review finding: finish() set the id to None
        # unconditionally, so the outer run recorded no inputs and
        # stamped run_id=None on its outputs)
        self._parent_run_id = self.lh.current_run_id
        self.lh.current_run_id = run_row["id"]
        if track_environment:
            from .environment import track_python_environment

            env = track_python_environment(self.lh, run_row)
            if env is not None:
                self.run["environment_id"] = env["id"]
        return self

    def finish(self, status_code: int = 0, report_path: str | None = None) -> None:
        """Close the run; ``report_path`` registers the file as the
        run's report artifact (reference ``_finish.py:97-106``)."""
        if self.run is None:
            return
        if report_path is not None:
            from .environment import attach_report

            rep = attach_report(self.lh, self.run, report_path)
            self.run["report_id"] = rep["id"]
        self.lh.save(
            "run",
            [{**self.run, "finished_at": _now(), "status_code": status_code}],
        )
        # restore the enclosing run (None at top level)
        self.lh.current_run_id = getattr(self, "_parent_run_id", None)
        self.run = None


def _get_or_create_transform(
    lh: Lakehouse,
    key: str,
    source_code: str,
    kind: str,
    git_ref: tuple[str, str] | None = None,
) -> dict[str, Any]:
    """Get-or-create a Transform by (key, source hash). Reuse is scoped
    to the key's uid family (reference ``core/_context.py:700-760``):
    same key AND same source hash → same transform; a hash match under
    a DIFFERENT key is a different pipeline and must not collapse onto
    it. Changed source under the same key bumps the version family."""
    # hardcoded credential literals never land in the registry
    # (reference core/_context.py:454 + _secret_redaction.py); hashing
    # the REDACTED text keeps the same-source→same-transform contract
    # consistent for re-runs of the same (redacted) code
    from .redaction import redact_source

    source_code, _n = redact_source(source_code)
    src_hash = hashlib.md5(source_code.encode()).hexdigest()
    family_rows = lh._registry_rows("transform", key=key)
    existing = _newest([r for r in family_rows if r["hash"] == src_hash])
    if existing is not None:
        row = existing.asDict()
        if git_ref is not None and row.get("reference") is None:
            # a re-run under git sync backfills provenance on the
            # existing transform (reference updates transform.reference
            # when sync resolves, core/_context.py)
            from ..catalog.query import QuerySet

            QuerySet(lh, "transform").filter(id=row["id"]).update(
                reference=git_ref[0], reference_type=git_ref[1]
            )
            row["reference"], row["reference_type"] = git_ref
        return row
    family = _newest(family_rows)
    if family is not None:
        # 16-char transform uid = 12-char stem + 4-char version
        uid = lh.next_version_uid("transform", family["uid"][:12])
    else:
        uid = base62(12) + "0000"
    row = {
        "id": lh.next_id("transform"),
        "uid": uid,
        "key": key,
        "kind": kind,
        "source_code": source_code,
        "hash": src_hash,
        "reference": git_ref[0] if git_ref else None,
        "reference_type": git_ref[1] if git_ref else None,
        "is_latest": True,
        "branch_id": lh.current_branch_id,
        "created_at": _now(),
    }
    lh._append("transform", [row])
    if family is not None:
        # demote the previous head so QuerySet.get(key=...) keeps
        # seeing exactly one is_latest row per family — scoped to THIS
        # family (review finding: the unscoped call rewrote the whole
        # transform registry per run)
        lh._reconcile_is_latest("transform", stems=[uid[:12]])
    return row


def track(lakehouse: Lakehouse, key: str, **kwargs: Any) -> Context:
    return Context(lakehouse).track(key, **kwargs)


_NOTEBOOK_SUFFIXES = (".ipynb", ".rmd", ".qmd")  # compared lowercased


def transform_from_path(
    lh: Lakehouse,
    path: str,
    key: str | None = None,
    kind: str | None = None,
) -> dict[str, Any]:
    """Reference ``Transform.from_path`` (``transform.py:756-805``):
    register a local script/notebook file as a Transform — key defaults
    to the file name, kind is inferred from the suffix (``.ipynb`` /
    ``.Rmd`` / ``.qmd`` → notebook, else script), same source hash
    under the same key reuses the row, changed source bumps the version
    family. (``from_git`` needs network access and is out of scope for
    this environment.)"""
    import os

    with open(path) as fh:
        source = fh.read()
    if key is None:
        key = os.path.basename(path)
    if kind is None:
        ext = os.path.splitext(path)[1].lower()
        kind = "notebook" if ext in _NOTEBOOK_SUFFIXES else "script"
    # registers the transform only — from_path opens NO run
    return _get_or_create_transform(lh, key, source, kind)


def latest_run(lh: Lakehouse, transform_key: str) -> dict[str, Any] | None:
    """Reference ``Transform.latest_run`` (``transform.py:926-930``):
    the newest run of the transform's latest version, or None."""
    tf = _newest(lh._registry_rows("transform", key=transform_key, is_latest=True))
    if tf is None:
        return None
    run = _newest(lh._registry_rows("run", transform_id=tf["id"]), "started_at", "id")
    return run.asDict() if run is not None else None


def finish(ctx: Context, status_code: int = 0) -> None:
    ctx.finish(status_code)


def artifact_ancestors(lh: Lakehouse, artifact_id: int, max_hops: int = 20) -> DataFrame:
    """G3 lineage walk: artifacts upstream of the given artifact through
    run input/output edges, as an iterative closure."""
    arts = lh.read_raw("artifact").select("id", "run_id")
    inputs = lh.read_raw("run_input_artifacts")
    # edge: child artifact -> parent artifact (parent is an input of the
    # run that produced the child)
    edges = (
        arts.filter(F.col("run_id").isNotNull())
        .join(inputs, arts["run_id"] == inputs["run_id"])
        .select(F.col("id").alias("child_id"), F.col("artifact_id").alias("parent_id"))
    )
    seeds = lh.spark.range(1).select(F.lit(artifact_id).alias("id"))
    return closure(edges, seeds, src="child_id", dst="parent_id", id_col="id",
                   max_hops=max_hops, include_depth=True)


def artifact_descendants(lh: Lakehouse, artifact_id: int, max_hops: int = 20) -> DataFrame:
    arts = lh.read_raw("artifact").select("id", "run_id")
    inputs = lh.read_raw("run_input_artifacts")
    edges = (
        arts.filter(F.col("run_id").isNotNull())
        .join(inputs, arts["run_id"] == inputs["run_id"])
        .select(F.col("artifact_id").alias("parent_id"), F.col("id").alias("child_id"))
    )
    seeds = lh.spark.range(1).select(F.lit(artifact_id).alias("id"))
    return closure(edges, seeds, src="parent_id", dst="child_id", id_col="id",
                   max_hops=max_hops, include_depth=True)


def tracked(lakehouse: Lakehouse, key: str | None = None, kind: str = "function"):
    """Decorator form of track/finish (reference ``@ln.tracked`` /
    ``@ln.flow``, ``core/_functions.py:137-230``; L4/L5): opens a run
    around the call with the function's source hash as the transform
    identity and the call's keyword arguments captured as run params
    (JSON-serializable values only — the reference applies the same
    dtype sniffing); closes with status 0, or −1 if the call raises.
    """
    import functools
    import inspect

    def deco(fn):
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = fn.__qualname__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            params = {}
            for k, v in kwargs.items():
                try:
                    json.dumps(v)
                    params[k] = v
                except (TypeError, ValueError):
                    params[k] = repr(v)
            ctx = Context(lakehouse).track(
                key or fn.__qualname__, source_code=src, kind=kind, params=params
            )
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                ctx.finish(status_code=-1)
                raise
            ctx.finish(status_code=0)
            return out

        return wrapper

    return deco


def _bound_params(fn, args: tuple, kwargs: dict) -> dict[str, Any]:
    """ALL call arguments (positional + keyword, defaults applied) as
    JSON-storable params — the reference binds the full signature
    (``core/_functions.py:60-63`` ``sig.bind`` + ``apply_defaults``),
    not just kwargs; non-serializable values fall back to ``repr``."""
    import inspect

    try:
        bound = inspect.signature(fn).bind(*args, **kwargs)
        bound.apply_defaults()
        raw = dict(bound.arguments)
    except (TypeError, ValueError):  # builtins / odd signatures
        raw = dict(kwargs)
    params = {}
    for k, v in raw.items():
        try:
            json.dumps(v)
            params[k] = v
        except (TypeError, ValueError):
            params[k] = repr(v)
    return params


def _flow_step_decorator(lakehouse: Lakehouse, key, kind, is_flow: bool):
    import functools
    import inspect

    def deco(fn):
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = fn.__qualname__

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if is_flow and lakehouse.current_run_id is not None:
                raise RuntimeError(
                    "a run is already active — use @step() for nested "
                    "functions, or finish the active run before @flow()"
                )
            if not is_flow and lakehouse.current_run_id is None:
                raise RuntimeError(
                    "@step() requires an initiating run: call track() "
                    "or invoke it from inside a @flow()-decorated function"
                )
            ctx = Context(lakehouse).track(
                key or fn.__qualname__,
                source_code=src,
                kind=kind,
                params=_bound_params(fn, args, kwargs),
            )
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                ctx.finish(status_code=-1)
                raise
            ctx.finish(status_code=0)
            return out

        return wrapper

    return deco


def flow(lakehouse: Lakehouse, key: str | None = None, kind: str = "pipeline"):
    """``@flow()`` (reference ``core/_functions.py:137-188``): track a
    function as a WORKFLOW entry point — opens a top-level run for the
    call, with the full bound-argument dict as run params and the
    function source as the transform identity. Raises if a run is
    already active (the reference's "use @step()" guard): a workflow
    nested under another run is a step, and silently opening a second
    top-level run would orphan the nesting lineage.

    Runs opened by steps inside the flow's body link back via
    ``initiated_by_run_id`` (``Context.track`` captures the enclosing
    ``current_run_id``, and ``finish`` restores it — same nesting
    mechanics as the reference's contextvar token set/reset)."""
    return _flow_step_decorator(lakehouse, key, kind, is_flow=True)


def step(lakehouse: Lakehouse, key: str | None = None, kind: str = "function"):
    """``@step()`` (reference ``core/_functions.py:192-204``; the old
    ``@tracked`` is its deprecated alias): track a function as a STEP
    of an active workflow — same run lifecycle as :func:`flow`, but
    REQUIRES an initiating run (raises without one) and records it as
    ``initiated_by_run_id``, so the run graph nests step runs under
    their flow run exactly like the reference's
    ``Run.initiated_by_run``."""
    return _flow_step_decorator(lakehouse, key, kind, is_flow=False)


# --------------------------------------------------------------- rendering

TRANSFORM_VIOLET = "#eff2ff"  # run-node fill (reference has_parents.py:27)


def _dot_quote(s: str) -> str:
    return '"' + str(s).replace("\\", "\\\\").replace('"', '\\"') + '"'


def _html_escape(s: str) -> str:
    return (
        str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def view_lineage(
    lh: Lakehouse,
    artifact_id: int,
    with_children: bool = True,
    max_hops: int = 20,
    return_graph: bool = False,
):
    """Render an artifact's run-lineage graph as Graphviz DOT
    (reference ``view_lineage``, ``has_parents.py:254-321``): white
    rounded boxes for artifacts, violet for runs, ``input artifact →
    run → output artifact`` edges, walked ``max_hops`` upstream (and
    downstream when ``with_children``).

    Returns the DOT source string; with ``return_graph=True`` and the
    ``graphviz`` package importable, a ``graphviz.Source`` instead (the
    package is display-only — the traversal and DOT emission are
    self-contained). Interactive API: lineage neighborhoods are
    human-sized, so the three ``collect``s here are bounded by the
    walked closure, never a table scan.
    """
    anc = artifact_ancestors(lh, artifact_id, max_hops=max_hops)
    ids = {r["id"] for r in anc.select("id").collect()} | {artifact_id}
    if with_children:
        desc = artifact_descendants(lh, artifact_id, max_hops=max_hops)
        ids |= {r["id"] for r in desc.select("id").collect()}
    id_list = sorted(ids)
    arts = {
        r["id"]: r.asDict()
        for r in lh.read_raw("artifact")
        .filter(F.col("id").isin(id_list))
        .select("id", "uid", "key", "run_id")
        .collect()
    }
    run_ids = sorted({a["run_id"] for a in arts.values() if a["run_id"] is not None})
    runs: dict[int, dict] = {}
    if run_ids:
        tf = lh.read_raw("transform").select(
            F.col("id").alias("transform_id"), F.col("key").alias("transform_key")
        )
        runs = {
            r["id"]: r.asDict()
            for r in lh.read_raw("run")
            .filter(F.col("id").isin(run_ids))
            .join(F.broadcast(tf), "transform_id", "left")
            .select("id", "uid", "transform_key", "started_at")
            .collect()
        }
    in_edges = (
        lh.read_raw("run_input_artifacts")
        .filter(F.col("run_id").isin(run_ids) & F.col("artifact_id").isin(id_list))
        .select("run_id", "artifact_id")
        .collect()
        if run_ids
        else []
    )

    root = arts.get(artifact_id, {"uid": str(artifact_id), "key": None})
    lines = [
        f"digraph {_dot_quote('artifact_' + str(root['uid']))} {{",
        "  node [fillcolor=white color=darkgrey fontname=Helvetica"
        " fontsize=10 shape=box style=\"rounded,filled\"];",
        "  edge [arrowsize=0.5 color=dimgrey];",
    ]
    for a in arts.values():
        label = _html_escape(a["key"] if a["key"] is not None else a["uid"])
        lines.append(
            f"  {_dot_quote('artifact_' + a['uid'])} [label=<{label}>];"
        )
    for r in runs.values():
        title = _html_escape(r["transform_key"] or r["uid"])
        sub = f"run at {r['started_at']}" if r["started_at"] is not None else "run"
        lines.append(
            f"  {_dot_quote('run_' + r['uid'])} [label=<{title}<BR/>"
            f'<FONT COLOR="GREY" POINT-SIZE="10">{_html_escape(sub)}</FONT>>'
            f' fillcolor="{TRANSFORM_VIOLET}"];'
        )
    for row in in_edges:  # input artifact -> run
        a, r = arts.get(row["artifact_id"]), runs.get(row["run_id"])
        if a and r:
            lines.append(
                f"  {_dot_quote('artifact_' + a['uid'])} -> "
                f"{_dot_quote('run_' + r['uid'])};"
            )
    for a in arts.values():  # run -> output artifact
        r = runs.get(a["run_id"]) if a["run_id"] is not None else None
        if r:
            lines.append(
                f"  {_dot_quote('run_' + r['uid'])} -> "
                f"{_dot_quote('artifact_' + a['uid'])};"
            )
    lines.append("}")
    dot = "\n".join(lines)
    if return_graph:
        try:
            import graphviz  # display-only dependency

            return graphviz.Source(dot)
        except ImportError:
            pass
    return dot
