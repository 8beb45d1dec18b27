"""Scans and sinks."""

from .tables import load_fixture_table  # noqa: F401
from .csv_source import read_hhs_csv  # noqa: F401
from .sinks import write_rejects_csv, append_run_log  # noqa: F401
from .warc import (  # noqa: F401
    read_warc,
    warc_to_documents,
    wet_to_documents,
    write_warc,
)
from .xml_source import (  # noqa: F401
    read_sitemap,
    read_xml,
)
