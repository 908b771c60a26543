package fineventstream.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed {@code file:} file system over {@link NioRawLocalFileSystem}:
 * every data file keeps its {@code .crc} companion.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
