"""Query catalog — one module per band of the SURVEY.md §2 operator inventory.

Importing this package registers nothing. Each module registers its own
queries with ``@query("name", ...)`` when it is imported, and
``registry.load_all()`` indexes those lines from the sources here and imports
a module on the first lookup of one of its names. A new module needs no
listing anywhere: dropping it in this directory puts it in the catalog.
"""
