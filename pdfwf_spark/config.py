"""YAML-driven job configuration (reference production UX parity).

The reference's primary entrypoint is a YAML file loaded into a
pydantic model (`python -m pdfwf.convert --config cfg.yaml`;
reference pdfwf/convert.py:185-224 WorkflowSettings,
pdfwf/utils.py:30-89 BaseSettings.from_yaml). The engine mirrors
that surface with a stdlib dataclass + PyYAML: every field of
ExtractConfig is a CLI flag of jobs/run_extract.py, and explicit CLI
flags override YAML values (the same precedence pydantic-settings
gives).

    # extract.yaml
    input: /data/transcripts          # table name or parquet path
    output: /warehouse/extracted
    buckets: 4096
    markdown_compat: true

    spark-submit --py-files pdfwf_spark.zip jobs/run_extract.py \
        --config extract.yaml
"""

from __future__ import annotations

from dataclasses import MISSING, asdict, dataclass, fields
from pathlib import Path


@dataclass
class ExtractConfig:
    """The extraction job's full config surface.

    Field-by-field analog of the reference WorkflowSettings
    (convert.py:185-210): pdf_dir->input, out_dir->output,
    num_conversions->limit, chunk_size->buckets; engine-only knobs
    (partitions, rebalance_rows) cover the Spark execution shape the
    reference delegates to Parsl configs.
    """

    input: str
    output: str
    buckets: int = 4096
    partitions: int | None = None
    limit: int | None = None
    run_id: str | None = None
    resume: bool = True
    markdown_compat: bool = False
    rebalance_rows: int | None = None

    def __post_init__(self) -> None:
        if not self.input or not self.output:
            raise ValueError("config requires non-empty 'input' and 'output'")
        if self.buckets < 1:
            raise ValueError("buckets must be >= 1")

    @classmethod
    def from_yaml(cls, path: str | Path) -> "ExtractConfig":
        """Load + validate; unknown keys are an error (typo'd keys
        silently ignored is the classic config footgun — the
        reference's pydantic models reject them too)."""
        return dataclass_from_yaml(cls, path)

    def to_yaml(self, path: str | Path) -> None:
        import yaml

        Path(path).write_text(yaml.safe_dump(asdict(self), sort_keys=False))


def dataclass_from_yaml(cls, path: str | Path):
    """Shared strict YAML->dataclass loader: top level must be a
    mapping, unknown keys are an error."""
    return cls(**yaml_mapping(cls, path))


@dataclass
class CurateConfig:
    """Config surface of the curation job (jobs/run_curate.py): the
    dedup -> repetition -> PII -> quality/language pipeline over a
    documents table. Stage knobs set to None disable that stage."""

    input: str
    output: str
    id_col: str = "doc_id"
    text_col: str = "text"
    near_dup_threshold: float | None = 0.05
    #: hot band-bucket handling for the LSH candidate pass: "drop"
    #: (bounded work, recall cliff inside dropped buckets) or "salt"
    #: (split into ceil(n/cap) md5 sub-buckets — bounded work, smooth
    #: recall; the setting for boilerplate-heavy corpora)
    cap_mode: str = "drop"
    #: which doc survives a duplicate cluster: "min_id" (deterministic
    #: arbitrary) or "longest" (keep-best-by-token-count re-election)
    keeper_policy: str = "min_id"
    top2gram_max: int | None = 150
    quality_min: int | None = None
    langs: list[str] | None = None
    redact_pii: bool = True
    #: drop docs linking to any of these domains (lowercase); None/[]
    #: disables the stage
    blocked_domains: list[str] | None = None
    #: truncate surviving docs to this many tokens; None disables
    max_tokens: int | None = None
    #: append a deterministic train/val/test `split` column
    assign_splits: bool = False

    def __post_init__(self) -> None:
        if not self.input or not self.output:
            raise ValueError("config requires non-empty 'input' and 'output'")
        if self.keeper_policy not in ("min_id", "longest"):
            raise ValueError(
                f"keeper_policy must be min_id|longest, got {self.keeper_policy!r}"
            )
        if self.cap_mode not in ("drop", "salt"):
            raise ValueError(f"cap_mode must be drop|salt, got {self.cap_mode!r}")
        if self.near_dup_threshold is not None and not (
            0 < self.near_dup_threshold <= 1
        ):
            raise ValueError("near_dup_threshold must be in (0, 1]")
        if self.max_tokens is not None and self.max_tokens <= 0:
            raise ValueError("max_tokens must be positive when set")

    @classmethod
    def from_yaml(cls, path: str | Path) -> "CurateConfig":
        return dataclass_from_yaml(cls, path)

    def to_yaml(self, path: str | Path) -> None:
        import yaml

        Path(path).write_text(yaml.safe_dump(asdict(self), sort_keys=False))


def yaml_mapping(cls, path: str | Path) -> dict:
    """Strict YAML->dict for a dataclass surface WITHOUT constructing
    it: unknown keys are an error, but required fields may be absent
    (the job CLIs merge CLI flags on top BEFORE validating — a YAML
    holding only stage knobs plus --input/--output flags is the
    documented precedence, so construction must happen post-merge)."""
    import yaml

    raw = yaml.safe_load(Path(path).read_text()) or {}
    if not isinstance(raw, dict):
        raise ValueError(f"{path}: top level must be a mapping")
    known = {f.name for f in fields(cls)}
    unknown = sorted(set(raw) - known)
    if unknown:
        raise ValueError(
            f"{path}: unknown config keys {unknown}; valid: {sorted(known)}"
        )
    return raw


def cli_or_yaml(yaml_vals: dict, key: str, cli_val, default):
    """Job-CLI precedence: an explicitly given CLI value wins, then
    the YAML value, then the default. None means 'flag not given';
    False likewise (argparse store_true defaults — a YAML true must
    not be masked by an unset flag)."""
    if cli_val is not None and cli_val is not False:
        return cli_val
    return yaml_vals.get(key, default)


def job_picker(cls, config_path: str | None):
    """The job CLIs' `pick(key, cli_val)`: the explicit CLI value, else
    the YAML value from `config_path`, else the dataclass default of
    `cls` (None for a required field). Defaults live only in the
    dataclass."""
    yaml_vals = yaml_mapping(cls, config_path) if config_path else {}
    defaults = {
        f.name: None if f.default is MISSING else f.default for f in fields(cls)
    }
    return lambda key, cli_val: cli_or_yaml(yaml_vals, key, cli_val, defaults[key])


def read_input(spark, path_or_table: str):
    """Shared job-input reader: parquet path if it looks like a path,
    catalog table otherwise."""
    if path_or_table.endswith((".parquet", "/")) or "/" in path_or_table:
        return spark.read.parquet(path_or_table)
    return spark.read.table(path_or_table)


@dataclass
class ContextConfig:
    """Config surface of the context-assembly job
    (jobs/run_context.py): a transcript turn table in, one of three
    dataloader-ready shapes out (operators/context.py), with optional
    conversation-level health floors applied first (curation.py)."""

    input: str
    output: str
    mode: str = "context"  # context (rolling k-turn) | pairs | render
    k: int = 3
    chunk_size: int | None = None  # skew-safe chunked window path
    max_chars_per_turn: int | None = None
    response_role: str = "assistant"
    min_turns: int = 1  # conversation floors; 1/None = floor off
    max_violations: int | None = None
    max_run_len: int | None = None
    max_tool_milli: int | None = None

    def __post_init__(self) -> None:
        if not self.input or not self.output:
            raise ValueError("config requires non-empty 'input' and 'output'")
        if self.mode not in ("context", "pairs", "render"):
            raise ValueError(
                f"mode must be context|pairs|render, got {self.mode!r}"
            )
        if self.k < 1 or self.min_turns < 1:
            raise ValueError("k and min_turns must be >= 1")

    @classmethod
    def from_yaml(cls, path: str | Path) -> "ContextConfig":
        return dataclass_from_yaml(cls, path)


@dataclass
class PackConfig:
    """Config surface of the sequence-packing job (jobs/run_pack.py):
    documents table -> per-doc sequence assignment under a fixed token
    budget, by either packing discipline (operators/packing.py)."""

    input: str
    output: str
    budget: int = 2048
    discipline: str = "concat"  # concat (split at cuts) | greedy (next-fit)
    n_buckets: int = 8
    id_col: str = "doc_id"
    text_col: str = "text"

    def __post_init__(self) -> None:
        if not self.input or not self.output:
            raise ValueError("config requires non-empty 'input' and 'output'")
        if self.discipline not in ("concat", "greedy"):
            raise ValueError(
                f"discipline must be concat|greedy, got {self.discipline!r}"
            )
        if self.budget <= 0 or self.n_buckets <= 0:
            raise ValueError("budget and n_buckets must be positive")

    @classmethod
    def from_yaml(cls, path: str | Path) -> "PackConfig":
        return dataclass_from_yaml(cls, path)


@dataclass
class SelectConfig:
    """Config surface of the DSIR data-selection job
    (jobs/run_select.py): a raw document pool in, either the scored
    table or the selected top slice out (operators/selection.py).
    The target corpus is EITHER a separate table (`target`) or a SQL
    filter expression over the input (`target_filter`) — exactly one.
    """

    input: str
    output: str
    target: str | None = None  # path/table of the target corpus
    target_filter: str | None = None  # SQL expr over input, e.g. "lang = 'en'"
    mode: str = "select"  # select (top slice) | score (all docs + scores)
    q: float = 0.9  # selection quantile (mode=select)
    n_buckets: int = 8192
    id_col: str = "doc_id"
    text_col: str = "text"
    salt: str = "dsir"

    def __post_init__(self) -> None:
        if not self.input or not self.output:
            raise ValueError("config requires non-empty 'input' and 'output'")
        if (self.target is None) == (self.target_filter is None):
            raise ValueError(
                "exactly one of 'target' or 'target_filter' is required"
            )
        if self.mode not in ("select", "score"):
            raise ValueError(f"mode must be select|score, got {self.mode!r}")
        if not (0.0 < self.q < 1.0):
            raise ValueError(f"q must be in (0, 1), got {self.q}")
        if self.n_buckets <= 0:
            raise ValueError("n_buckets must be positive")

    @classmethod
    def from_yaml(cls, path: str | Path) -> "SelectConfig":
        return dataclass_from_yaml(cls, path)
