"""Config loading: a reference-style YAML dict still loads."""
import pathlib

from etl_for_all_studies_spark.config import config_from_dict


def test_reference_database_section_maps_to_sibling_warehouse(tmp_path):
    """The reference's ``database`` section (connection string, batch size,
    retries) and ``processing.max_concurrent_studies`` have no meaning for a
    Parquet warehouse: the keys are accepted and dropped, and the sqlite
    connection string names the sibling ``<stem>_warehouse`` directory."""
    studies = tmp_path / "studies"
    studies.mkdir()
    genes = tmp_path / "genes.tsv"
    genes.write_text("gene_symbol\tensembl_id\n")
    cfg = config_from_dict(
        {
            "database": {
                "connection_string": f"sqlite:///{tmp_path}/genomics.db",
                "batch_size": 500,
                "max_retries": 3,
            },
            "processing": {
                "input_directory": str(studies),
                "gene_filter_file": str(genes),
                "max_concurrent_studies": 4,
            },
        }
    )
    assert cfg.warehouse.path == pathlib.Path(f"{tmp_path}/genomics_warehouse")
    assert cfg.processing.input_directory == studies
    assert cfg.processing.min_samples == 2
