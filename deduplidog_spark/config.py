"""Engine configuration — the logical-plan knobs.

Mirrors the reference's five config dataclasses
(Action/Execution/Match/Media/Helper, deduplidog/deduplidog.py:38-183)
flattened into one frozen dataclass. Validation reproduces the
reference's ``check()`` sanity rules (deduplidog.py:348-416). The config
drives DataFrame construction only — the physical plan belongs to
Catalyst/AQE.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

# Salt for DedupConfig.fingerprint(). The fingerprint omits
# default-valued fields (so new knobs don't orphan old checkpoints),
# which means the DEFAULTS THEMSELVES are part of run identity:
# if you change any field's default below — or change what a stage
# COMPUTES for unchanged knob values (e.g. a band-table topology
# change) — bump this constant; otherwise a config from the new
# release hashes the same as the old release's while computing
# something different, and checkpoint/state reuse silently serves (or
# silently fails to match) stale stages. Adding a new field with a
# fresh default does NOT require a bump.
# v2: simhash band keys for radius 4-8 became r-combination
#     AND-amplified values (simhash.hamming_band_exprs) — persisted
#     band stages from v1 would never equi-join the new keys.
_FINGERPRINT_SCHEMA = "defaults-v2"


@dataclass(frozen=True)
class DedupConfig:
    # --- roles (reference: work_dir / original_dir, deduplidog.py:185-190)
    work_repo: str | None = None
    original_repo: str | None = None

    # --- action (deduplidog.py:49-71; exactly one)
    action: str = "mark"  # mark | delete | replace | link | none
    set_both_to_older_date: bool = False  # X5, deduplidog.py:70-71,681-696

    # --- execution semantics
    invert_selection: bool = False  # J8, deduplidog.py:128-129
    neglect_warning: bool = False  # X6, deduplidog.py:83-85
    treat_bigger_as_original: bool = False  # W3, deduplidog.py:73-75
    skip_bigger: bool = False  # W3, deduplidog.py:76-78

    # --- match predicates (deduplidog.py:93-129)
    ignore_name: bool = False
    ignore_size: bool = False
    ignore_date: bool = False
    checksum: bool = False  # V3 → sha256 equality
    tolerate_hour: int | tuple[int, int] | bool | None = None  # J6/V2 band

    # --- key normalization (K1-K6, deduplidog.py:118-126)
    casefold: bool = False
    # exact str.casefold semantics (Unicode full case folding: ß→ss,
    # İ→i̇, ﬁ→fi) via an Arrow-vectorized UDF; default False keeps K5
    # on the JVM F.lower path, which is codegen-fused and identical on
    # ASCII keys. Only consulted when ``casefold`` is on.
    casefold_exact: bool = False
    space2char: str | None = None  # replace ' ' with this char
    strip_end_counter: bool = False  # drop trailing '(\d+)'
    strip_suffix: str | None = None  # regex stripped from stem end
    work_file_stem_shortened: int | None = None  # truncate index key

    # --- filters (F1-F6)
    skip_empty: bool = True  # deduplidog.py:80-81
    suffixes: tuple[str, ...] = ()  # F3 whitelist (maps to lang)

    # --- commit-axis collapse (operators/versions.py): keep only the
    # newest version per (repo, path) before any signature work — the
    # dominant corpus reduction on commit-snapshot tables. Off by
    # default (a table may already be single-snapshot).
    collapse_versions: bool = False
    # recency ordinal column for the election (git SHAs don't sort);
    # None = the commit string itself (sortable ids)
    version_order_col: str | None = None

    # --- near-dup mode (generalizes media_magic, deduplidog.py:131-153)
    mode: str = "name"  # name | exact | minhash | simhash | substring
    shingle_k: int = 5  # char-shingle width
    num_perm: int = 128  # MinHash permutations (OPH bins)
    lsh_bands: int = 32  # bands (rows = num_perm // bands)
    jaccard_threshold: float = 0.7  # V8 verify τ
    sig_est_threshold: float = 0.5  # cheap signature-estimate pre-filter
    exact_verify: bool = True  # recompute true Jaccard on candidate pairs
    simhash_max_hamming: int = 3  # V4 analog (accepted_img_hash_diff)
    fingerprint_window: int = 16  # winnowing window (substring mode)
    fingerprint_k: int = 32  # substring fingerprint gram length
    max_bucket_size: int = 200  # LSH bucket cap (skew guard; drops logged)
    size_ratio_prefilter: float = 0.5  # V5 analog: |len ratio| cheap gate
    # V5 proper (accepted_frame_delta, deduplidog.py:144-145,727-731):
    # absolute delta on a cheap numeric feature — here line count —
    # gates pairs before the expensive content verify; None = off
    line_delta_max: int | None = None
    hash_max_size: int | None = None  # F6: no signature above N bytes

    # --- scale / checkpointing (north_rule)
    checkpoint_dir: str | None = None
    # Catalog-table checkpointing (north_rule: "checkpoints LSH band
    # tables and cluster state to Iceberg"): when set, stages persist as
    # catalog tables `<prefix>_<stage>_<fingerprint>` via saveAsTable
    # with `checkpoint_format` as the provider — "iceberg" on clusters
    # with the Iceberg runtime + catalog configured (atomic replace,
    # snapshot history), "parquet" against the builtin session catalog
    # (used by tests; resume then lives only as long as the metastore).
    checkpoint_table_prefix: str | None = None  # e.g. "lake.db.dedup"
    checkpoint_format: str = "parquet"
    # NOTE deliberately no salt knob here: the pipeline's own groupBys
    # key on sha/fid (uniform by construction) and LSH skew is handled
    # by sha-collapse + max_bucket_size + AQE; `candidates.salt_column`
    # is the helper for user aggregations over genuinely hot keys.
    # round cap of the full-run CC's hash-min phase
    # (cluster.connected_components): a graph that fits one union-find
    # task takes no rounds, a larger one runs rounds until they converge
    # or a residual fits, and it raises when neither happens within
    # this many; append batches resolve their contracted graph by
    # union-find alone
    cc_max_iterations: int = 20

    def __post_init__(self) -> None:
        if self.action not in ("mark", "delete", "replace", "link", "none"):
            raise ValueError(f"unknown action {self.action!r}")
        if self.mode not in ("name", "exact", "minhash", "simhash", "substring"):
            raise ValueError(f"unknown mode {self.mode!r}")
        # "cannot ignore everything" (deduplidog.py:392-398)
        if (
            self.mode == "name"
            and self.ignore_name
            and self.ignore_size
            and self.ignore_date
            and not self.checksum
        ):
            raise ValueError(
                "cannot ignore name, size and date together without a "
                "content predicate — everything would match everything"
            )
        if self.num_perm % self.lsh_bands != 0:
            raise ValueError("num_perm must be divisible by lsh_bands")
        if self.checkpoint_dir and self.checkpoint_table_prefix:
            raise ValueError(
                "set checkpoint_dir (path stages) or "
                "checkpoint_table_prefix (catalog tables), not both"
            )

    @property
    def hour_band(self) -> tuple[float, float] | None:
        """Normalize tolerate_hour like deduplidog.py:374-384:
        True → (-1, 1); n → (-n, n); (lo, hi) kept."""
        t = self.tolerate_hour
        if t is None or t is False:
            return None
        if t is True:
            return (-1.0, 1.0)
        if isinstance(t, tuple):
            return (float(t[0]), float(t[1]))
        return (-float(t), float(t))

    @property
    def lsh_rows(self) -> int:
        return self.num_perm // self.lsh_bands

    @property
    def effective_substring_min_len(self) -> int:
        """Verified LCS floor of substring mode — the winnowing
        guarantee boundary: any shared substring of length ≥ window +
        k - 1 produces a shared fingerprint, so that's the smallest
        length the mode can promise to find."""
        return self.fingerprint_window + self.fingerprint_k - 1

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def fingerprint(self) -> str:
        """Stable hash of every semantic knob (checkpoint_dir excluded —
        it's where the stages live, not what they compute). Checkpointed
        stage paths embed this so a rerun with a different config/mode
        can never silently reuse another run's parquet stages.

        Fields at their dataclass DEFAULT are excluded from the hash:
        a knob you never touched cannot change what a run computes, so
        adding new config fields in a later release keeps every
        previously-written state/checkpoint addressable (no orphaned
        --append chains on upgrade). Flipping any knob off its default
        still changes the fingerprint, as it must.

        That exclusion makes run identity depend on the defaults
        themselves, so the hash is salted with _FINGERPRINT_SCHEMA:
        CHANGING ANY FIELD'S DEFAULT VALUE IS A BREAKING CHANGE and
        must bump that constant (defaults-only configs from the old
        and new release would otherwise hash identically while
        computing different things, silently serving stale checkpoint
        stages). Adding a NEW field with a fresh default is safe and
        must NOT bump it.

        Migration note (one-time, round-3 → round-4 scheme change):
        fingerprints before the non-default scheme serialized all
        fields, so pre-change checkpoints and --append state chains
        are orphaned once — load_state fails loudly with
        STATE_NOT_FOUND naming the expected fingerprint; recompute
        state with --full once to re-key it."""
        import dataclasses
        import hashlib
        import json

        d = {"_schema": _FINGERPRINT_SCHEMA}
        for f in dataclasses.fields(self):
            if f.name in (
                "checkpoint_dir", "checkpoint_table_prefix", "checkpoint_format"
            ):
                continue
            default = (
                f.default_factory()
                if f.default_factory is not dataclasses.MISSING
                else f.default
            )
            v = getattr(self, f.name)
            if default is dataclasses.MISSING or v != default:
                d[f.name] = v
        blob = json.dumps(d, sort_keys=True, default=str).encode()
        return hashlib.sha1(blob).hexdigest()[:12]
