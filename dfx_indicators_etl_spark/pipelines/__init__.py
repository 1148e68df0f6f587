"""Source pipelines: Retriever → Transformer → load (SURVEY §1).

``SOURCES`` maps provider names to their (Retriever, Transformer)
classes — the switchboard equivalent of the reference's
``pipelines/__init__`` module registry. Transformers taking a
``country_mapping`` frame receive it at construction (the distributed
stand-in for ``country_converter`` / the UNSD M49 table).
"""

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target

from . import (
    energydata_info,
    healthdata_ghdx,
    ilo_sdmx_api,
    imf_datamapper_api,
    sipri_milex,
    unaids_kpatlas,
    unicef_sdmx_api,
    unstats_sdg_api,
    unstats_sdg_database,
    who_gho_api,
    world_bank_api,
    world_bank_wdi,
)
from .base import (
    BaseRetriever,
    BaseTransformer,
    Pipeline,
    PipelineSettings,
    union_all,
)

SOURCES = {
    "energydata_info": energydata_info,
    "healthdata_ghdx": healthdata_ghdx,
    "ilo_sdmx_api": ilo_sdmx_api,
    "imf_datamapper_api": imf_datamapper_api,
    "sipri_milex": sipri_milex,
    "unaids_kpatlas": unaids_kpatlas,
    "unicef_sdmx_api": unicef_sdmx_api,
    "unstats_sdg_api": unstats_sdg_api,
    "unstats_sdg_database": unstats_sdg_database,
    "who_gho_api": who_gho_api,
    "world_bank_api": world_bank_api,
    "world_bank_wdi": world_bank_wdi,
}

__all__ = [
    "BaseRetriever",
    "BaseTransformer",
    "Pipeline",
    "PipelineSettings",
    "SOURCES",
    "list_pipelines",
    "get_pipeline",
    "run_all",
    "union_all",
]


def list_pipelines() -> list[str]:
    """Available pipeline names (reference
    `pipelines/__init__.py:14-27`)."""
    return sorted(SOURCES)


def get_pipeline(
    name: str,
    country_mapping=None,
    storage_root: str | None = None,
    countries=None,
    country_key: str = "iso_alpha_3",
    settings: PipelineSettings | None = None,
    **transformer_kwargs,
) -> Pipeline:
    """Runnable pipeline instance (reference
    `pipelines/__init__.py:30-57`).

    Transformers whose constructor needs the country-mapping frame (the
    distributed stand-in for ``country_converter`` / the UNSD M49
    table) receive ``country_mapping``; the rest take only their own
    ``transformer_kwargs`` (e.g. the ILO codelists).
    """
    import inspect

    if name not in SOURCES:
        raise ValueError(
            f"Pipeline '{name}' does not exist. "
            f"Available pipelines: {list_pipelines()}"
        )
    module = SOURCES[name]
    params = inspect.signature(module.Transformer.__init__).parameters
    if "country_mapping" in params:
        transformer_kwargs.setdefault("country_mapping", country_mapping)
    return Pipeline(
        retriever=module.Retriever(),
        transformer=module.Transformer(**transformer_kwargs),
        storage_root=storage_root,
        countries=countries,
        country_key=country_key,
        settings=settings or PipelineSettings(),
    )


def run_all(
    spark,
    inputs: dict[str, dict],
    storage_root: str,
    country_mapping=None,
    countries=None,
    country_key: str = "iso_alpha_3",
    settings: PipelineSettings | None = None,
) -> dict:
    """The reference's etl.ipynb loop over every configured source:
    retrieve → transform (+M49 filter +year cut) → versioned load, one
    pipeline per ``inputs`` key. ``inputs[name]`` holds the retriever
    kwargs (a pre-staged ``payload`` frame, a ``path``, or nothing for
    live-HTTP retrievers). Each source lands under
    ``<storage_root>/<version>/<name>.parquet``, and the result maps
    ``name`` to that landed dataset (see ``Pipeline``: it is valid until
    a same-day run into the same root overwrites it).

    Sources land concurrently, one thread per input: a source's jobs
    are mostly single-task and its wall time is largely driver-side
    planning, so one source alone leaves most cores idle. Each thread
    starts from the caller's local properties and session tags
    (``inheritable_thread_target``), so a job group set by the caller
    holds every job ``run_all`` runs. If sources fail, the first
    failing source in ``inputs`` order re-raises its error once every
    thread has finished.
    """

    def land(name: str, kwargs: dict):
        pipeline = get_pipeline(
            name,
            country_mapping=country_mapping,
            storage_root=storage_root,
            countries=countries,
            country_key=country_key,
            settings=settings,
        )
        return pipeline.run(spark, **kwargs)

    with ThreadPoolExecutor(max_workers=max(1, len(inputs))) as pool:
        # wrap per source, here in the caller's thread: each wrapper
        # captures its own copy of the local properties
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(land), name, kwargs)
            for name, kwargs in inputs.items()
        }
    return {name: future.result() for name, future in futures.items()}
