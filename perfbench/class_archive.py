"""Builds the gateway JVM's class-data archive (``run.CLASS_ARCHIVE``);
``run.py`` starts it once per checkout, before its first session.

    python3 perfbench/class_archive.py
"""

import run

if __name__ == "__main__":
    run.confine_to_checkout()
    run.build_class_archive(run.box_config())
