"""wbx benchmark package: see README.md."""
