from .html_kernel import (  # noqa: F401
    Node,
    add_to_stringbuilder,
    extract_links,
    extract_metadata,
    extract_metadata_raw,
    extract_metadata_with_feeds,
    extract_page,
    finish_metadata,
    go_path_base,
    go_path_ext,
    parse_html,
    parse_xml_meta,
)
