"""Schema migrations + versioned dispatch — engine equivalent of
``/root/reference/src/Data/Schematic/Migration.hs`` and the fallback
parse in ``src/Data/Schematic.hs:60-76``.

The reference applies *type-level* diffs (AddKey/DeleteKey/Update at a
path of object keys and array traversals) to produce a revision chain,
then parses newest-first, migrating the value up the chain on success at
an older revision. Here:

* diffs are data (:class:`Diff` path+action), applied to the schema AST
  by :func:`apply_action_at` — the analog of
  ``Build/MakeBuilder/ApplyAction`` (Migration.hs:41-73);
* :func:`all_versions` folds migrations over the base schema and lists
  (revision, schema) newest-first — ``AllVersions``/``TopVersion``
  (Migration.hs:97-107);
* a :class:`VersionedSpec` carries per-revision ``DataFrame →
  DataFrame`` upgrade functions — the ``MList`` (Migration.hs:148-158);
* :func:`validate_versioned` validates each row against the newest
  revision; rows that fail (structurally or by constraint) are
  re-validated against older revisions **in one pass** — every
  revision's verdict is computed as a column, the winning revision is a
  ``coalesce``-style argmax, and upgrade functions are applied to the
  older-revision subsets then unioned. No per-row Python; one scan;
* :func:`validate_versioned_json_strings` is its raw-JSON twin: it
  decodes with the decoder of ``validate_json_strings`` and runs the
  same dispatch (:func:`_dispatch`).

Deviation noted for parity-hunters: the reference's type-level
``DeleteKey`` only removes the *head* field (Migration.hs:46-48 never
recurses); ours deletes the named field wherever it sits. Its AddKey
prepends; ours prepends too, preserving the round-trip property used by
its test suite (SchemaSpec.hs:46-75).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import check_conformance, spark_type_for
from .schema.ast import SArray, Schema, SObject, SOptional
from .sources.json_ingest import _decode
from .validation import VERDICT_COL, compile_verdict_columns


# ---------------------------------------------------------------------------
# Path + actions
# ---------------------------------------------------------------------------

TRAVERSE = "[]"  # path segment: descend into array elements (PTraverse)


@dataclass(frozen=True)
class AddKey:
    name: str
    schema: Schema


@dataclass(frozen=True)
class DeleteKey:
    name: str


@dataclass(frozen=True)
class Update:
    schema: Schema


Action = AddKey | DeleteKey | Update


@dataclass(frozen=True)
class Diff:
    """Atomic schema difference at a path (Migration.hs:119-125).
    ``path`` segments are object keys or TRAVERSE for arrays."""

    path: tuple[str, ...]
    action: Action


@dataclass(frozen=True)
class Migration:
    revision: str
    diffs: tuple[Diff, ...]


def apply_action(action: Action, schema: Schema) -> Schema:
    """ApplyAction (Migration.hs:70-73): AddKey prepends; DeleteKey
    removes; Update replaces the node wholesale."""
    if isinstance(action, AddKey):
        if not isinstance(schema, SObject):
            raise TypeError("AddKey target must be an object")
        return SObject(((action.name, action.schema),) + schema.fields)
    if isinstance(action, DeleteKey):
        if not isinstance(schema, SObject):
            raise TypeError("DeleteKey target must be an object")
        return SObject(tuple(
            (n, s) for n, s in schema.fields if n != action.name
        ))
    if isinstance(action, Update):
        return action.schema
    raise TypeError(f"unknown action {action!r}")


def apply_action_at(
    schema: Schema, path: tuple[str, ...], action: Action
) -> Schema:
    """Build/MakeBuilder (Migration.hs:41-68): descend object keys and
    array traversals, apply the action at the target, rebuild."""
    if not path:
        return apply_action(action, schema)
    head, rest = path[0], path[1:]
    if head == TRAVERSE:
        if isinstance(schema, SArray):
            return SArray(
                apply_action_at(schema.item, rest, action),
                schema.constraints,
            )
        raise TypeError(f"PTraverse into non-array {schema!r}")
    if isinstance(schema, SOptional):
        return SOptional(apply_action_at(schema.inner, path, action))
    if isinstance(schema, SObject):
        fields = []
        hit = False
        for n, s in schema.fields:
            if n == head:
                hit = True
                fields.append((n, apply_action_at(s, rest, action)))
            else:
                fields.append((n, s))
        if not hit:
            raise KeyError(f"path key {head!r} not in object")
        return SObject(tuple(fields))
    raise TypeError(f"cannot descend {head!r} into {schema!r}")


def apply_migration(migration: Migration, schema: Schema) -> Schema:
    for d in migration.diffs:  # in order (ApplyMigration, :75-79)
        schema = apply_action_at(schema, d.path, d.action)
    return schema


def all_versions(
    base: Schema, migrations: list[Migration]
) -> list[tuple[str, Schema]]:
    """(revision, schema) pairs NEWEST FIRST; base revision is
    'initial' (AllVersions, Migration.hs:97-104)."""
    acc = [("initial", base)]
    cur = base
    for m in migrations:
        cur = apply_migration(m, cur)
        acc.append((m.revision, cur))
    return list(reversed(acc))


def infer_diffs(
    old: Schema, new: Schema, path: tuple[str, ...] = ()
) -> tuple[Diff, ...]:
    """Schema-drift inference: the Diff list transforming ``old`` into
    ``new`` — the inverse direction of ``apply_migration``. Detecting a
    live table's drift against its registered spec and emitting the
    migration is the engine-side use of the reference's migration
    vocabulary (AddKey/DeleteKey/Update, Migration.hs:109).

    Emits the minimal path-targeted edits: field adds/removes at the
    owning object, recursion into matching objects / array items /
    optionals, whole-node ``Update`` where kinds or constraints differ.
    Caveats mirroring the apply machinery: ``AddKey`` prepends, so
    object field ORDER round-trips only up to permutation; edits whose
    target would be an ``SOptional`` node itself escalate to a
    whole-node ``Update`` (the builder cannot AddKey/DeleteKey through
    an optional at path end).
    """
    if old == new:
        return ()
    if isinstance(old, SObject) and isinstance(new, SObject):
        old_f, new_f = dict(old.fields), dict(new.fields)
        out: list[Diff] = []
        for n, _ in old.fields:
            if n not in new_f:
                out.append(Diff(path, DeleteKey(n)))
        for n, s in old.fields:
            if n in new_f and s != new_f[n]:
                out.extend(infer_diffs(s, new_f[n], path + (n,)))
        # AddKey prepends: add in reverse so new-only fields end up in
        # their relative order at the front
        for n, s in reversed(new.fields):
            if n not in old_f:
                out.append(Diff(path, AddKey(n, s)))
        return tuple(out)
    if isinstance(old, SArray) and isinstance(new, SArray):
        if old.constraints != new.constraints:
            return (Diff(path, Update(new)),)
        return infer_diffs(old.item, new.item, path + (TRAVERSE,))
    if isinstance(old, SOptional) and isinstance(new, SOptional):
        sub = infer_diffs(old.inner, new.inner, path)
        if any(d.path == path for d in sub):
            return (Diff(path, Update(new)),)
        return sub
    return (Diff(path, Update(new)),)


def infer_migration(
    old: Schema, new: Schema, revision: str = "inferred"
) -> Migration:
    """Package :func:`infer_diffs` as a revision —
    ``apply_migration(infer_migration(old, new), old)`` equals ``new``
    up to object field order."""
    return Migration(revision, infer_diffs(old, new))


# ---------------------------------------------------------------------------
# Versioned validation + data migration
# ---------------------------------------------------------------------------

Upgrade = Callable[[DataFrame], DataFrame]


@dataclass
class VersionedSpec:
    """Base schema + migration chain + per-revision upgrade functions.

    ``upgrades[rev]`` lifts a DataFrame valid under the revision *before*
    ``rev`` into shape ``rev`` (the DataMigration tagged function,
    Migration.hs:148-158).
    """

    base: SObject
    migrations: list[Migration] = field(default_factory=list)
    upgrades: dict[str, Upgrade] = field(default_factory=dict)

    def versions(self) -> list[tuple[str, SObject]]:
        return all_versions(self.base, self.migrations)

    def top(self) -> SObject:
        return self.versions()[0][1]


def add_column_upgrade(name: str, default) -> Upgrade:
    """Common upgrade: new column with a default (migrateObject analog)."""
    def up(df: DataFrame) -> DataFrame:
        return df.withColumn(name, F.lit(default))
    return up


def drop_column_upgrade(name: str) -> Upgrade:
    """shrinkObject analog: project the field away."""
    def up(df: DataFrame) -> DataFrame:
        return df.drop(name)
    return up


def update_field_upgrade(column: str, path: tuple[str, ...], fn) -> Upgrade:
    """Nested-path data upgrade — the runtime twin of a path-targeted
    schema ``Diff`` (Migration.hs:119-125): functionally update the value
    at ``path`` below top-level ``column`` (struct fields via
    ``withField``, array traversal via ``transform`` — TRAVERSE
    segments). ``fn`` is Column→Column on the old value, or a literal.

    Example: lift every span's offset by 10::

        update_field_upgrade("spans", (TRAVERSE, "offset"),
                             lambda old: old + 10)
    """
    from .accessors import set_at_path

    def up(df: DataFrame) -> DataFrame:
        return df.withColumn(column, set_at_path(F.col(column), path, fn))
    return up


def add_field_upgrade(
    column: str, path: tuple[str, ...], name: str, value
) -> Upgrade:
    """AddKey below top level: add struct field ``name`` (with a literal
    default or a Column-valued function of the owning struct) at
    ``path`` under ``column``."""
    from pyspark.sql import Column as _Col

    from .accessors import set_at_path

    def add(node):
        v = value(node) if callable(value) else (
            value if isinstance(value, _Col) else F.lit(value)
        )
        return node.withField(name, v)

    def up(df: DataFrame) -> DataFrame:
        return df.withColumn(column, set_at_path(F.col(column), path, add))
    return up


def drop_field_upgrade(column: str, path: tuple[str, ...], name: str) -> Upgrade:
    """DeleteKey below top level: drop struct field ``name`` at ``path``
    under ``column``."""
    from .accessors import set_at_path

    def up(df: DataFrame) -> DataFrame:
        return df.withColumn(
            column,
            set_at_path(F.col(column), path, lambda s: s.dropFields(name)),
        )
    return up


def _dispatch(
    marked: DataFrame,
    spec: VersionedSpec,
    verdicts: dict[str, Column],
    *,
    persist: bool,
    subset_cols: Callable[[str], list],
    rejected_cols: Callable[[Column], list],
) -> tuple[DataFrame, DataFrame]:
    """The newest-first dispatch both versioned entry points share
    (parseAndValidateWithMList order, Data/Schematic.hs:60-76).

    ``verdicts`` maps every revision to its verdict Column over
    ``marked``. Each row goes to the newest revision it is Valid under;
    ``subset_cols(rev)`` projects that revision's rows to its shape,
    and the chain of registered upgrades lifts them to the top revision
    before the subsets are unioned. Rows Valid under no revision are
    projected by ``rejected_cols(top_verdict)``.

    ``persist=True`` caches the frame that carries the verdicts before
    the per-revision filters: without that barrier predicate pushdown
    inlines the verdict trees into every subset's Filter and evaluates
    them again per subset."""
    revs = [rev for rev, _ in spec.versions()]
    for rev in revs:
        marked = marked.withColumn(f"_verdict__{rev}", verdicts[rev])
    # the loop ends with the NEWEST revision's when() outermost, so the
    # newest Valid revision wins
    win = F.lit(None).cast("string")
    for rev in reversed(revs):
        win = F.when(
            F.col(f"_verdict__{rev}") == "Valid", F.lit(rev)
        ).otherwise(win)
    marked = marked.withColumn("_winning_revision", win)
    if persist:
        marked = marked.cache()

    upgraded: DataFrame | None = None
    for idx, rev in enumerate(revs):
        subset = marked.where(F.col("_winning_revision") == rev) \
                       .select(*subset_cols(rev))
        # lift from `rev` up through every newer revision's upgrade
        for newer in reversed(revs[:idx]):
            up = spec.upgrades.get(newer)
            if up is None:
                raise KeyError(
                    f"no upgrade function registered for revision {newer!r}"
                )
            subset = up(subset)
        upgraded = subset if upgraded is None else (
            upgraded.unionByName(subset, allowMissingColumns=True)
        )
    rejected = marked.where(F.col("_winning_revision").isNull()) \
                     .select(*rejected_cols(F.col(f"_verdict__{revs[0]}")))
    return upgraded, rejected


def validate_versioned(
    df: DataFrame, spec: VersionedSpec, *, persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Newest-first fallback dispatch (Data/Schematic.hs:60-76).

    Returns ``(upgraded_valid, rejected)``:

    * rows valid under the TOP revision pass through;
    * rows invalid at top but valid under an older revision are run
      through the upgrade chain back up to top, then unioned in;
    * rows valid nowhere land in ``rejected`` with the input's columns.

    Physical shape: one scan computes a verdict per revision (all plain
    column expressions); the revision split is a set of filters over the
    same projection. ``persist=True`` (default) caches the annotated
    frame — right when it fits in cluster memory. At 100 TB pass
    ``persist=False``: the verdict projection is cheap to recompute and
    each revision filter re-reads the (column-pruned) scan instead of
    materializing the whole table.

    Every revision passes the same preflight as ``validate()`` while the
    query is built. Revisions whose spec the frame's column TYPES cannot
    carry (e.g. an Update changed number→text, so the old revision's
    regex would not even analyze against the new numeric column) are
    skipped: their verdict is a constant non-Valid, exactly the
    per-document semantics (the reference's parse at that revision
    would fail).
    """
    versions = spec.versions()

    # columns some revision references but the frame lacks → typed NULLs
    # (they validate as missing-required / optional-absent, exactly the
    # per-document semantics), dropped again before upgrades run
    present = set(df.columns)
    marked = df
    for _, schema in versions:
        for name, fschema in schema.fields:
            if name not in present:
                marked = marked.withColumn(
                    name,
                    F.lit(None).cast(spark_type_for(fschema).simpleString()),
                )
                present.add(name)

    verdicts = {}
    for rev, schema in versions:
        # compiled for skipped revisions too, so every one is preflighted
        verdict = compile_verdict_columns(schema)[VERDICT_COL]
        # frame types can't carry this revision — constant non-Valid
        if check_conformance(schema, marked.schema):
            verdict = F.lit("DecodingError")
        verdicts[rev] = verdict
    return _dispatch(
        marked, spec, verdicts, persist=persist,
        subset_cols=lambda rev: df.columns,
        rejected_cols=lambda top_verdict: df.columns,
    )


# ---------------------------------------------------------------------------
# Versioned raw-JSON entry point — decodeAndValidateVersionedWithMList
# ---------------------------------------------------------------------------

def validate_versioned_json_strings(
    df: DataFrame, json_col: str, spec: VersionedSpec,
    *, persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Raw JSON bytes → versioned parse — the engine twin of
    ``decodeAndValidateVersionedWithMList``
    (``/root/reference/src/Data/Schematic.hs:87-103``): decode the string
    column ONCE with the decoder of ``validate_json_strings``
    (``sources.json_ingest._decode``, one typed parse per
    field-type-compatible group of revisions), then run the same
    newest-first dispatch as :func:`validate_versioned`.

    Returns ``(upgraded_valid, rejected)``; rejected rows (malformed
    JSON or valid under no revision) keep the original columns plus
    ``_verdict`` = the TOP revision's verdict.

    A revision's verdict is DecodingError when the document is
    malformed or the revision's decode errors are non-empty (a type
    failure at that revision's types, or a bad required-SNull field),
    so a doc rejected by the newest revision's types still dispatches
    to an older revision it satisfies. Otherwise the verdict comes from
    :func:`~schematic_spark.validation.compile_verdict_columns` over the
    revision's decoded fields.

    ``persist=True`` (default) caches the annotated frame before the
    per-revision dispatch filters. This is not just the
    ``validate_versioned`` memory/recompute trade: without the cache
    barrier, predicate pushdown inlines the verdict expression trees —
    including the typed parse — into each subset's Filter condition,
    re-parsing the document once per inlined reference. Pass
    ``persist=False`` only when the table cannot fit and you accept
    one full re-parse pass per revision subset.
    """
    versions = spec.versions()
    decoded, malformed, per_rev = _decode(
        df, json_col, [schema for _, schema in versions]
    )
    fields, verdicts = {}, {}
    for (rev, schema), (rev_fields, errors) in zip(versions, per_rev):
        fields[rev] = rev_fields
        cols = compile_verdict_columns(schema, row=F.struct(*rev_fields))
        verdicts[rev] = F.when(
            malformed | (F.size(errors) > 0), F.lit("DecodingError")
        ).otherwise(cols[VERDICT_COL])
    passthrough = [c for c in df.columns if c != json_col]
    return _dispatch(
        decoded, spec, verdicts, persist=persist,
        subset_cols=lambda rev: passthrough + fields[rev],
        rejected_cols=lambda top_verdict: df.columns + [
            top_verdict.alias(VERDICT_COL)
        ],
    )
