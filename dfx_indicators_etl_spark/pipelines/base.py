"""Pipeline framework: Retriever → Transformer → load.

Spark-native re-expression of the reference's pipeline layer
(`/root/reference/src/dfx_etl/pipelines/_pipeline.py:22-121` — the
orchestration contract; `pipelines/_base.py:34-229` — retriever /
transformer base classes). Differences are deliberate:

- a Retriever returns a **DataFrame** (possibly from a distributed
  read of bulk files), not a pandas frame; HTTP APIs are fetched on
  the driver (they're small control-plane data) behind an import guard
  since the harness ships no HTTP client and no network.
- the Transformer's final step *conforms* rows to the canonical schema
  (``validation.conform``: canonical columns, casts, trims; no row is
  dropped) instead of validating-or-raising. The checks are
  ``validation.validate_split``, which splits invalid rows to
  quarantine and runs only when a caller calls it.
- ``load`` writes a versioned parquet **directory** via
  ``sources.sinks.write_dataset`` and hands back that dataset, so the
  source transform runs once per refresh however many consumers follow.
"""

from __future__ import annotations

import logging
from abc import ABC, abstractmethod
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import validation
from ..operators import indicator as ops
from ..sources import sinks

try:  # no HTTP client / network in the verification harness
    import httpx  # type: ignore
except ImportError:  # pragma: no cover
    httpx = None

logger = logging.getLogger(__name__)

__all__ = [
    "PipelineSettings",
    "BaseRetriever",
    "BaseTransformer",
    "Pipeline",
    "union_all",
]


def union_all(frames: list[DataFrame]) -> DataFrame:
    """Union many frames as a BALANCED tree (allowMissingColumns).

    A left-deep ``unionByName`` chain over N per-indicator frames
    builds an N-deep logical plan — at the reference's real indicator
    counts (hundreds to thousands of series) analysis/optimization
    time grows superlinearly and can overflow the analyzer stack. The
    balanced reduction keeps plan depth at ⌈log₂N⌉ with identical
    semantics.
    """
    if not frames:
        raise ValueError("union_all: no frames")
    layer = list(frames)
    while len(layer) > 1:
        nxt = [
            layer[i].unionByName(layer[i + 1], allowMissingColumns=True)
            if i + 1 < len(layer)
            else layer[i]
            for i in range(0, len(layer), 2)
        ]
        layer = nxt
    return layer[0]


@dataclass(frozen=True)
class PipelineSettings:
    """Reference `settings.py` pipeline section (year_min/year_max used
    by `_pipeline.py:98-104`)."""

    year_min: int = 2005
    year_max: int = 2030

    @classmethod
    def from_env(cls) -> "PipelineSettings":
        """Environment-driven construction (the reference's
        pydantic-settings layer, `settings.py:35-52`): PIPELINE_YEAR_MIN
        and PIPELINE_YEAR_MAX override the defaults."""
        import os

        return cls(
            year_min=int(os.environ.get("PIPELINE_YEAR_MIN", cls.year_min)),
            year_max=int(os.environ.get("PIPELINE_YEAR_MAX", cls.year_max)),
        )


class BaseRetriever(ABC):
    """Fetch raw data for one source (`pipelines/_base.py:34-121`).

    ``provider`` derives from the module name, matching the reference's
    convention (``_base.py:62-70``) — it names the output dataset.
    ``failed_fetches`` lists the URLs whose series ``fetch_csv`` skipped.
    """

    uri: str = ""

    def __init__(self) -> None:
        self.failed_fetches: list[str] = []

    @property
    def provider(self) -> str:
        return self.__class__.__module__.split(".")[-1]

    @abstractmethod
    def __call__(self, spark: SparkSession, **kwargs) -> DataFrame:
        """Return the raw frame. Implementations read bulk files through
        Spark readers, or small API payloads via ``fetch_json``."""

    def get_metadata(self, spark: SparkSession) -> DataFrame:
        """Optional indicator metadata (`_base.py:105-129`), conformed."""
        raise NotImplementedError(
            "Subclasses should override `get_metadata` if applicable."
        )

    def fetch_json(self, url: str, params: dict | None = None) -> object:
        """Driver-side HTTP GET for small API payloads; guarded because
        the harness has neither an HTTP client nor network access."""
        if httpx is None:
            raise NotImplementedError(
                "HTTP retrieval requires `httpx`, which is not available "
                "in this environment; use a file-based retriever or "
                "pre-stage the payload."
            )
        response = httpx.get(url, params=params)  # pragma: no cover
        response.raise_for_status()  # pragma: no cover
        return response.json()  # pragma: no cover

    def fetch_bytes(self, url: str, params: dict | None = None) -> bytes:
        """Driver-side HTTP GET for a binary artifact (e.g. a workbook
        download, reference sipri_milex.py); same guard as
        ``fetch_json``."""
        if httpx is None:
            raise NotImplementedError(
                "HTTP retrieval requires `httpx`, which is not available "
                "in this environment; use a file-based retriever or "
                "pre-stage the payload."
            )
        response = httpx.get(url, params=params, follow_redirects=True)  # pragma: no cover
        response.raise_for_status()  # pragma: no cover
        return response.content  # pragma: no cover

    def fetch_text(self, url: str, params: dict | None = None) -> str:
        """Driver-side HTTP GET decoded as UTF-8 (e.g. the ILO SDMX
        codelist XML, reference ilo_sdmx_api.py:24-50)."""
        return self.fetch_bytes(url, params).decode("utf-8")

    def fetch_csv(
        self,
        spark: SparkSession,
        url: str,
        params: dict | None = None,
        **options,
    ) -> DataFrame | None:
        """HTTP GET a CSV payload and hand it to Spark's CSV reader.

        The reference's ``BaseRetriever.read_csv``
        (`/root/reference/src/dfx_etl/pipelines/_base.py:131-172`):
        GET → ``pd.read_csv``, turning HTTP errors into ``None`` so a
        per-indicator loop skips failed series; the error is logged and
        the URL recorded in ``failed_fetches``. Spark-first shape: the
        bytes land once in a driver-local staging file and the *parse*
        runs through ``spark.read.csv`` (distributed, pushdown-able) —
        at scale a multi-GB SDMX extract never materializes as Python
        row objects. Columns stay strings (``inferSchema`` off by
        default); transformers cast explicitly, mirroring the
        reference's dtype-preserving ``low_memory=False`` read.

        The staging file must outlive the returned (lazy) DataFrame, so
        it is written to a per-retriever staging directory that is kept
        for the session rather than unlinked eagerly.

        **Cluster note**: executors must be able to READ the staging
        path. The default (a driver-local temp dir) is correct for
        local mode and shared-filesystem drivers; on a real cluster set
        ``SPARK_GRAFT_STAGING_DIR`` to a cluster-visible URI (hdfs://,
        abfss://, s3a://…) — the bytes are written through the Hadoop
        FileSystem API, so any configured scheme works unchanged.
        """
        import tempfile
        import uuid as _uuid

        try:
            data = self.fetch_bytes(url, params)
        except NotImplementedError:
            raise
        except Exception as error:  # httpx timeout / status → skip series
            logger.warning("fetch_csv: skipping %s: %s", url, error)
            self.failed_fetches.append(url)
            return None
        import os

        if not hasattr(self, "_staging_dir"):
            root = os.environ.get("SPARK_GRAFT_STAGING_DIR")
            if root:
                self._staging_dir = f"{root.rstrip('/')}/dfx_fetch_{_uuid.uuid4().hex[:8]}"
            else:
                self._staging_dir = tempfile.mkdtemp(prefix="dfx_fetch_")
        path = f"{self._staging_dir}/{_uuid.uuid4().hex}.csv"
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.create(jpath, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        opts = {"header": "true", "multiLine": "true", "escape": '"'}
        opts.update({k: str(v) for k, v in options.items()})
        return spark.read.options(**opts).csv(path)


class BaseTransformer(ABC):
    """Source transform + shared standardization (`_base.py:176-229`).

    ``__call__`` applies the source-specific ``transform`` then the
    shared chain: provider stamp → M49 membership filter (broadcast
    left-semi on the country dim) → schema conformance. The reference
    validates-or-raises; here ``__call__`` neither raises nor drops a
    row for failing a check (conformance only projects, casts and
    trims), and ``validation.validate_split`` quarantines invalid rows
    only when a caller calls it.
    """

    @abstractmethod
    def transform(self, df: DataFrame, **kwargs) -> DataFrame:
        """Source-specific reshape to (at least) the canonical columns."""

    def __call__(
        self,
        df: DataFrame,
        provider: str,
        countries: DataFrame | None = None,
        **kwargs,
    ) -> DataFrame:
        out = self.transform(df, **kwargs)
        if "provider" not in out.columns:
            out = out.withColumn("provider", F.lit(provider))
        # DataSchema's dataframe_parser (validation.py:108-112): fold
        # ``dimension_*`` columns / default ``Total`` before conformance.
        out = ops.combine_dimensions(out)
        if countries is not None:  # _base.py:212-218 — keep M49 areas only
            out = ops.filter_countries(out, countries, "country_code", "iso_alpha_3")
        return validation.conform(out)


@dataclass
class Pipeline:
    """One-source ETL run (`_pipeline.py:22-121`).

    ``run`` = retrieve → transform (+M49 filter) → year-range cut →
    versioned parquet load; returns what landed, like the reference's
    ``__call__`` returns its output.

    After ``load``, ``df_transformed`` is the landed dataset read back
    (``<root>/<version>/<provider>.parquet``), so every consumer scans
    that parquet instead of running the source transform again. The
    frame stays valid only while those files do: a re-run into the same
    root on the same day overwrites them under it.
    """

    retriever: BaseRetriever
    transformer: BaseTransformer
    storage_root: str | None = None
    countries: DataFrame | None = None
    settings: PipelineSettings = field(default_factory=PipelineSettings)

    df_raw: DataFrame | None = None
    df_transformed: DataFrame | None = None

    def retrieve(self, spark: SparkSession, **kwargs) -> "Pipeline":
        self.df_raw = self.retriever(spark, **kwargs)
        return self

    def transform(self, **kwargs) -> "Pipeline":
        if self.df_raw is None:
            raise ValueError("No raw data. Run the retrieval first")
        out = self.transformer(
            self.df_raw,
            provider=self.retriever.provider,
            countries=self.countries,
            **kwargs,
        )
        # _pipeline.py:98-104 — settings year window.
        self.df_transformed = ops.filter_years(
            out, "year", self.settings.year_min, self.settings.year_max
        )
        return self

    def load(self) -> str:
        """Write ``df_transformed`` and rebind it to the written dataset;
        returns the dataset's path."""
        if self.df_transformed is None:
            raise ValueError("No validated data. Run the transformation first")
        if self.storage_root is None:
            root = sinks.resolve_storage_root()
        else:
            root = self.storage_root
        path = sinks.write_dataset(
            self.df_transformed, root, self.retriever.provider
        )
        # the schema is known, so reading back runs no inference job
        self.df_transformed = self.df_transformed.sparkSession.read.schema(
            validation.DATA_SCHEMA
        ).parquet(path)
        return path

    def run(self, spark: SparkSession, **kwargs) -> DataFrame:
        """retrieve → transform → load; returns the landed frame."""
        self.retrieve(spark, **kwargs)
        self.transform()
        self.load()
        return self.df_transformed
